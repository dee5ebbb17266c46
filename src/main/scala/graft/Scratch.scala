package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

/** Per-query scratch-persist tracker — the lifecycle half of every
  * `persist()` a single query plants for its own multi-consumer frames
  * (basket_pairs' per-order baskets, orders_rfm's per-customer frame,
  * cooccur's per-doc vocab arrays, the graph edge models).
  *
  * Those frames are REUSE within one query, not session state: once the
  * query's result has materialized they are dead weight pinning executor
  * storage memory, and across a 100+-query bench run the accumulated
  * MEMORY_AND_DISK blocks force LRU churn against the caches that ARE
  * meant to live (the dedup family's memoized pair frames). So: queries
  * call [[track]] instead of bare `persist()`, and the entry points
  * (Bench / Verify) call [[release]] after each result materializes —
  * the same contract as `Ingest.QuarantinedRead.release()`.
  *
  * Deliberately NOT for session-scoped memos ([[SessionMemos]]): their
  * amortization across queries is the point; the store releases them on
  * its own schedule.
  *
  * Thread-safety: a TrieMap keyed by session with a synchronized buffer
  * per session — entry points are sequential today, but specs run
  * suites in parallel against a shared session.
  */
object Scratch {

  private val tracked = TrieMap.empty[SparkSession, ArrayBuffer[DataFrame]]
  private val checkpointed = TrieMap.empty[SparkSession, ArrayBuffer[DataFrame]]

  /** Persist `df` (MEMORY_AND_DISK) and register it for the next
    * [[release]] of its session. Returns the persisted frame.
    *
    * Already-persisted frames pass through UNTRACKED: a query handed a
    * session-memoized frame (Dedup.minhashPairs, Graph.coPurchaseEdges)
    * must not enroll it for per-query release — that would silently evict
    * the memo's blocks after the first consumer and every later consumer
    * would re-pay the build while the memo store still claimed it cached.
    */
  def track(df: DataFrame): DataFrame = {
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) return df
    val p = df.persist()
    val buf = tracked.getOrElseUpdate(p.sparkSession, ArrayBuffer.empty)
    buf.synchronized { buf += p }
    p
  }

  /** Register an already-`localCheckpoint`'d frame (e.g. the labels out
    * of an iterative search) for release: checkpoint blocks live in the
    * RDD layer, so `unpersist` on the Dataset is a no-op and release must
    * unpersist the backing LogicalRDD itself
    * ([[SessionMemos.releaseCheckpoint]]), session-scoped. Callers must
    * be done with the frame by the next [[release]]: unlike a persist, a
    * released checkpoint CANNOT be recomputed (its lineage was truncated).
    */
  def trackCheckpointed(df: DataFrame): DataFrame = {
    val buf = checkpointed.getOrElseUpdate(df.sparkSession, ArrayBuffer.empty)
    buf.synchronized { buf += df }
    df
  }

  /** Unpersist every frame tracked for `s` since the last release.
    * BLOCKING: release runs between queries, where waiting for block
    * removal costs ~nothing — while an async eviction racing the next
    * query's allocations lets scratch blocks from N queries coexist,
    * exactly the transient overshoot that OOMed the ×100 smoke on the
    * default heap. Correctness never depends on a persist (they are pure
    * recompute-or-read-cache; checkpointed frames are registered only
    * once their consumer is the last one).
    */
  def release(s: SparkSession): Unit = {
    tracked.remove(s).foreach { buf =>
      buf.synchronized { buf.foreach(_.unpersist(blocking = true)) }
    }
    checkpointed.remove(s).foreach { buf =>
      buf.synchronized { buf.foreach(SessionMemos.releaseCheckpoint) }
    }
  }
}
