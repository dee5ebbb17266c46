package graftbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Named monotone counters; a pass reads them as before/after deltas. */
final class Counters {
  private val longs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val doubles = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]()

  def add(k: String, v: Long): Unit =
    longs.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)
  def add(k: String, v: Double): Unit =
    doubles.computeIfAbsent(k, _ => new DoubleAdder()).add(v)
  def max(k: String, v: Long): Unit =
    longs.computeIfAbsent(k, _ => new AtomicLong()).accumulateAndGet(v, math.max)

  def snapshot(): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    longs.forEach((k, v) => out(k) = v.get.toDouble)
    doubles.forEach((k, v) => out(k) = v.sum)
    out.toMap
  }

  /** Reset the max-type counters (they are per-pass peaks, not sums). */
  def resetMax(keys: Seq[String]): Unit = keys.foreach { k =>
    val a = longs.get(k); if (a != null) a.set(0L)
  }
}

/** Task-end accounting. Installed on every run: the end-to-end cpu_s,
  * shuffle_mb and peak_exec_mem_mb come from here, and it does no more than
  * add the task metrics Spark already collected.
  */
final class TaskCounters(c: Counters) extends SparkListener {
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    c.add("tasks", 1L)
    c.add("task_run_ms", m.executorRunTime)
    c.add("cpu_ns", m.executorCpuTime)
    c.add("gc_task_ms", m.jvmGCTime)
    c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
    c.add("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten)
    c.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
    c.add("spill_mem_bytes", m.memoryBytesSpilled)
    c.add("spill_disk_bytes", m.diskBytesSpilled)
    c.add("input_records", m.inputMetrics.recordsRead)
    c.add("output_bytes", m.outputMetrics.bytesWritten)
    c.max("peak_exec_mem", m.peakExecutionMemory)
  }
}

/** Scheduler counts — traced runs only. */
final class SchedCounters(c: Counters) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = c.add("jobs", 1L)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c.add("stages", 1L)
}

/** Reads each finished query's planning phases and the SQL metrics of its
  * final (post-AQE) physical plan — traced runs only.
  */
final class PlanCounters(c: Counters, storeRoot: String)
    extends QueryExecutionListener with AdaptiveSparkPlanHelper {

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def phase(name: String): Double =
      phases.get(name).map(_.durationMs / 1000.0).getOrElse(0.0)
    c.add("plan_analysis_s", phase("analysis"))
    c.add("plan_optimize_s", phase("optimization"))
    c.add("plan_physical_s", phase("planning"))
    c.add("queries", 1L)
    walk(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    c.add("query_failures", 1L)

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  private def walk(root: SparkPlan): Unit = collectWithSubqueries(root) { case p => p }.foreach {
    case _: QueryStageExec => ()
    case p =>
      val cls = p.getClass.getName
      val simple = p.getClass.getSimpleName
      p match {
        case _: ShuffleExchangeLike => c.add("exchanges", 1L)
        case w: DataWritingCommandExec =>
          c.add("write_files", w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L))
        case _ => ()
      }
      if (simple.contains("Scan") && p.metrics.contains("numOutputRows")) {
        c.add("scan_rows", metric(p, "numOutputRows"))
        // scanTime is a millisecond timing metric on file scans
        c.add("scan_ms", metric(p, "scanTime"))
        if (readsStore(p)) c.add("store_scans", 1L)
      }
      if (simple.contains("Join")) c.add("join_rows", metric(p, "numOutputRows"))
      if (simple.contains("Aggregate")) c.add("agg_rows", metric(p, "numOutputRows"))
      if (simple.startsWith("Window")) c.add("window_rows", metric(p, "numOutputRows"))
      if (simple == "SortExec") c.add("sort_ms", metric(p, "sortTime"))
      // the engine's own execs (SlidingCountExec, AsofJoinExec) declare no
      // SQL metrics, so only their presence is countable
      if (cls.startsWith("graft.")) c.add("custom_nodes", 1L)
  }

  /** Does this scan read files under the run's fixture store? */
  private def readsStore(p: SparkPlan): Boolean = p match {
    case f: org.apache.spark.sql.execution.FileSourceScanExec =>
      f.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(storeRoot))
    case b: BatchScanExec => b.scan.description().contains(storeRoot)
    case _ => false
  }
}

/** One closed span; `parent` is the enclosing span's id (0 = none). */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** In-memory spans, written out with the run record. Disabled (a plain
  * call of `body`) on untraced runs.
  */
final class Spans(enabled: Boolean) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var next = 0

  def apply[T](name: String)(body: => T): T = if (!enabled) body else {
    next += 1
    val id = next
    val parent = stack.head
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      buf += Span(id, parent, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  def all: Seq[Span] = buf.toSeq
}
