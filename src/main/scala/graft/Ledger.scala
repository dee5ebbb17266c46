package graft

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BaseJoinExec, HashJoin}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.graft.GraftInternal
import org.apache.spark.sql.util.QueryExecutionListener

/** One record per query, read from Spark's own metrics on the real run.
  *
  * Three parts, all reading what Spark already collects:
  *   - task totals: a listener sums the task metrics of every job the
  *     query ran. Jobs are attributed by a local property the ledger sets
  *     around the query; Spark copies local properties into the threads
  *     that run broadcast builds and subqueries, so those jobs count
  *     toward their query (the job group would not: a broadcast exchange
  *     runs under a group of its own). `deser_s` is the time the tasks
  *     spent deserializing before they ran, which `task_s` leaves out;
  *   - the plans: the SQL metrics of every (post-AQE) physical plan that
  *     ran inside the query — the QueryExecution the caller ran and each
  *     one the session's plan listener reported meanwhile (an iterative
  *     query's per-hop `count()`, a memo's first materialization, a
  *     write) — and of the plans of the cached frames they read. The
  *     fingerprint is the final plan's alone: the caller's, else the last
  *     one reported;
  *   - pauses: a 1 ms sleeper thread sums every wake-up later than 5 ms,
  *     the host stalls that neither wall clock nor steal% shows;
  *   - the JVM's cold costs over the query's window: generated classes
  *     compiled and the seconds spent compiling them (`codegen_s`),
  *     classes loaded (`classes_loaded`) and JIT compile time
  *     (`jit_ms`, -1 where the JVM does not measure it). Like the
  *     compile count they are JVM-wide, so they are exact only while
  *     one query runs at a time.
  *
  * Usage: `val ledger = new Ledger(spark)`, then per query
  * `ledger.measure(name) { Some(qe) }`, and `ledger.close()` at the end.
  * Queries are measured one at a time.
  */
final class Ledger(spark: SparkSession) extends AutoCloseable {
  import Ledger._

  private val sc = spark.sparkContext
  private val tasks = new TaskSums
  private val plans = new Finished
  private val pauses = new Pauses
  private val scopes = new AtomicLong()
  // the value each SQL metric had when a record last read it: a cached
  // frame's plan keeps the metrics of the run that built it, and only
  // that run's record counts them, once however many of its plans read it
  private val seen = new java.util.WeakHashMap[SQLMetric, java.lang.Long]()

  sc.addSparkListener(tasks)
  spark.listenerManager.register(plans)
  pauses.start()

  /** Run `body` as query `name` and return its record. `body` returns the
    * QueryExecution it executed when the caller holds one (`toRdd` fires
    * no plan listener). A failure in `body` is recorded in `error`.
    */
  def measure(name: String)(body: => Option[QueryExecution]): Record = {
    val scope = s"$name#${scopes.incrementAndGet()}"
    // events of earlier work must not land in this query's totals
    GraftInternal.drainListenerBus(sc)
    plans.qes.clear()
    val (steal0, jiffies0) = cpuJiffies()
    val compiles0 = GraftSession.codegenCompiles()
    val codegenS0 = GraftSession.codegenSeconds()
    val classes0 = classesLoaded()
    val jit0 = jitMs()
    val pause0 = pauses.overshootNs.get
    val t0 = System.nanoTime()
    sc.setLocalProperty(ScopeProperty, scope)
    val outcome = try Right(body) catch { case e: Throwable => Left(e) }
    sc.setLocalProperty(ScopeProperty, null)
    val wallS = (System.nanoTime() - t0) / 1e9
    val pauseS = (pauses.overshootNs.get - pause0) / 1e9
    val compiles = GraftSession.codegenCompiles() - compiles0
    val codegenS = GraftSession.codegenSeconds() - codegenS0
    val classes = classesLoaded() - classes0
    val jit = if (jit0 < 0) -1L else jitMs() - jit0
    val (steal1, jiffies1) = cpuJiffies()
    GraftInternal.drainListenerBus(sc)
    val sums = Option(tasks.sums.remove(scope)).getOrElse(new Sums)
    tasks.stageScope.values.removeIf(_ == scope)
    val ran = plans.qes.asScala.toSeq
    val last = outcome.toOption.flatten.orElse(ran.lastOption)
    val plan = last.map(_.executedPlan)
    val ops = (ran ++ last).distinct.flatMap(qe => operators(qe.executedPlan))
    Record(
      wallS = wallS,
      jobs = sums.jobs, stages = sums.stages, tasks = sums.tasks,
      taskS = sums.runMs / 1e3, cpuS = sums.cpuNs / 1e9,
      deserS = sums.deserMs / 1e3,
      inputRows = sums.inputRows,
      shuffleBytes = sums.shuffleBytes, shuffleRecords = sums.shuffleRecords,
      spillBytes = sums.spillBytes, peakExecMemBytes = sums.peakExecMem,
      pauseS = pauseS,
      stealPct =
        if (steal0 < 0 || steal1 < 0 || jiffies1 <= jiffies0) -1.0
        else 100.0 * (steal1 - steal0) / (jiffies1 - jiffies0),
      compiles = compiles, codegenS = codegenS, classesLoaded = classes,
      jitMs = jit,
      storageAfterMb = sc.getRDDStorageInfo
        .map(i => (i.memSize + i.diskSize).toDouble).sum / 1e6,
      topTimeMs = top(ops.map(p => label(p) -> timeMs(p, added))),
      topRows = top(ops.map(p => label(p) -> p.metrics.get("numOutputRows")
        .map(added).getOrElse(0L).toDouble)),
      fingerprint = plan.map(fingerprint).getOrElse(""),
      error = outcome.left.toOption.map(_.toString))
  }

  /** What a metric gained since a record last read it. */
  private def added(m: SQLMetric): Long = {
    val v = math.max(0L, m.value)
    v - Option(seen.put(m, v)).map(_.longValue).getOrElse(0L)
  }

  override def close(): Unit = {
    pauses.running = false
    pauses.join()
    spark.listenerManager.unregister(plans)
    sc.removeSparkListener(tasks)
  }
}

object Ledger extends AdaptiveSparkPlanHelper {

  /** The local property naming the measured query on every job it runs. */
  val ScopeProperty = "graft.ledger.scope"

  final case class Record(
      wallS: Double, jobs: Long, stages: Long, tasks: Long,
      taskS: Double, cpuS: Double, deserS: Double, inputRows: Long,
      shuffleBytes: Long, shuffleRecords: Long, spillBytes: Long,
      peakExecMemBytes: Long, pauseS: Double, stealPct: Double,
      compiles: Long, codegenS: Double, classesLoaded: Long, jitMs: Long,
      storageAfterMb: Double,
      topTimeMs: Seq[(String, Double)], topRows: Seq[(String, Double)],
      fingerprint: String, error: Option[String]) {

    def toJson: String = {
      def num(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
      def pairs(xs: Seq[(String, Double)]) =
        xs.map { case (k, v) => s"[${str(k)},${num(v)}]" }.mkString("[", ",", "]")
      s"""{"wall_s":${num(wallS)},"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""task_s":${num(taskS)},"cpu_s":${num(cpuS)},"deser_s":${num(deserS)},""" +
        s""""input_rows":$inputRows,""" +
        s""""shuffle_bytes":$shuffleBytes,"shuffle_records":$shuffleRecords,""" +
        s""""spill_bytes":$spillBytes,"peak_exec_mem_bytes":$peakExecMemBytes,""" +
        s""""pause_s":${num(pauseS)},"steal_pct":${num(stealPct)},""" +
        s""""codegen_compiles":$compiles,"codegen_s":${num(codegenS)},""" +
        s""""classes_loaded":$classesLoaded,"jit_ms":$jitMs,""" +
        s""""storage_after_mb":${num(storageAfterMb)},""" +
        s""""top_time_ms":${pairs(topTimeMs)},"top_rows":${pairs(topRows)},""" +
        s""""fingerprint":${str(fingerprint)},"error":${error.map(str).getOrElse("null")}}"""
    }
  }

  /** JSON string literal: quotes, backslashes and ALL control characters
    * escaped — a tab or CR in builder-authored oracle SQL would otherwise
    * make the driver's json.load fail.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Classes this JVM has loaded since it started. */
  private def classesLoaded(): Long =
    java.lang.management.ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount

  /** Milliseconds this JVM's JIT compilers have spent so far; -1 where the
    * JVM does not measure it.
    */
  private def jitMs(): Long = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    if (jit == null || !jit.isCompilationTimeMonitoringSupported) -1L
    else jit.getTotalCompilationTime
  }

  /** (steal, user..steal) jiffies from /proc/stat's aggregate cpu line;
    * (-1, -1) where it is unreadable. Only the first 8 fields: the kernel
    * already folds guest time into user/nice.
    */
  def cpuJiffies(): (Long, Long) =
    try {
      val fields = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/stat")),
        java.nio.charset.StandardCharsets.UTF_8)
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      (fields(7), fields.take(8).sum)
    } catch { case _: Throwable => (-1L, -1L) }

  /** Every operator of a final plan, subqueries and the plans of cached
    * frames it reads included; the adaptive and query-stage wrappers are
    * looked through, not counted.
    */
  def operators(plan: SparkPlan): Seq[SparkPlan] = {
    val ops = collectWithSubqueries(plan) {
      case p if !p.isInstanceOf[AdaptiveSparkPlanExec] && !p.isInstanceOf[QueryStageExec] => p
    }
    ops ++ ops.collect { case m: InMemoryTableScanExec => m.relation.cachedPlan }
      .distinct.flatMap(operators)
  }

  private def opName(p: SparkPlan): String = p.getClass.getSimpleName.stripSuffix("Exec")

  private def joinStrategy(p: SparkPlan): Option[String] = p match {
    case j: HashJoin => Some(s"${opName(p)}/${j.joinType}/${j.buildSide}")
    case j: BaseJoinExec => Some(s"${opName(p)}/${j.joinType}")
    case _ => None
  }

  /** The plan fingerprint: exchange count, join strategies and the
    * operator multiset, each sorted, so two runs of one plan shape give
    * the same string.
    */
  def fingerprint(plan: SparkPlan): String = {
    val ops = operators(plan)
    val exchanges = ops.count(_.isInstanceOf[ShuffleExchangeLike])
    val joins = ops.flatMap(joinStrategy).sorted
    val multiset = ops.groupBy(opName).toSeq.sortBy(_._1)
      .map { case (k, v) => if (v.size == 1) k else s"$k*${v.size}" }
    s"exchanges=$exchanges joins=${joins.mkString(",")} ops=${multiset.mkString(",")}"
  }

  /** An operator named for a reader: codegen stages by their id and
    * members, joins by strategy, aggregates by keys, scans by table.
    */
  private def label(p: SparkPlan): String = p match {
    case w: WholeStageCodegenExec =>
      def members(q: SparkPlan): Seq[String] = q match {
        case _: InputAdapter => Nil
        case _ => joinStrategy(q).getOrElse(opName(q)) +: q.children.flatMap(members)
      }
      s"WholeStageCodegen(${w.codegenStageId})[${members(w.child).mkString(">")}]"
    case a: BaseAggregateExec =>
      s"${opName(p)}[${a.groupingExpressions.map(_.name).mkString(",")}]"
    case f: FileSourceScanExec =>
      s"${opName(p)}[${f.relation.location.rootPaths.headOption.map(_.getName).getOrElse("")}]"
    case _ => joinStrategy(p).getOrElse(opName(p))
  }

  /** The operator's own timing metrics, in milliseconds. */
  private def timeMs(p: SparkPlan, value: SQLMetric => Long): Double =
    p.metrics.values.toSeq.map { m =>
      m.metricType match {
        case "timing" => value(m).toDouble
        case "nsTiming" => value(m) / 1e6
        case _ => 0.0
      }
    }.sum

  private def top(xs: Seq[(String, Double)]): Seq[(String, Double)] =
    xs.filter(_._2 > 0).sortBy(-_._2).take(5)

  /** Task totals of one measured query. Touched only by the listener
    * bus's thread until the bus is drained.
    */
  private final class Sums {
    var jobs, stages, tasks, runMs, cpuNs, deserMs, inputRows = 0L
    var shuffleBytes, shuffleRecords, spillBytes, peakExecMem = 0L

    def add(m: TaskMetrics): Unit = {
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      deserMs += m.executorDeserializeTime
      inputRows += m.inputMetrics.recordsRead
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      spillBytes += m.diskBytesSpilled
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }

  private final class TaskSums extends SparkListener {
    val sums = new ConcurrentHashMap[String, Sums]()
    val stageScope = new ConcurrentHashMap[Int, String]()

    private def scopeOf(props: Properties): Option[String] =
      Option(props).flatMap(p => Option(p.getProperty(ScopeProperty)))
    private def sumsOf(scope: String): Sums = sums.computeIfAbsent(scope, _ => new Sums)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      scopeOf(e.properties).foreach(sumsOf(_).jobs += 1)

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      scopeOf(e.properties).foreach { s =>
        stageScope.put(e.stageInfo.stageId, s)
        sumsOf(s).stages += 1
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageScope.get(e.stageId)).foreach { s =>
        if (e.taskMetrics != null) sumsOf(s).add(e.taskMetrics)
      }
  }

  /** Every QueryExecution the session reported since the last clear, in
    * completion order.
    */
  private final class Finished extends QueryExecutionListener {
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qes.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private final class Pauses extends Thread("graft-ledger-pauses") {
    setDaemon(true)
    val overshootNs = new AtomicLong()
    @volatile var running = true

    override def run(): Unit = while (running) {
      val t0 = System.nanoTime()
      Thread.sleep(1)
      val late = System.nanoTime() - t0 - 1000000L
      if (late > 5000000L) overshootNs.addAndGet(late)
    }
  }
}
