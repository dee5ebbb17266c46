package graft.sources

import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.graft.GraftInternal
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.sources.bulksink.{BulkSink, BulkTransports}

/** DSv2 bulk write path: JSON serialization, batching, retry, quarantine,
  * the committed job-level report and the per-write SQL metrics.
  */
class BulkSinkSpec extends SparkSpec {

  import spark.implicits._

  private val Fmt = "graft.sources.bulksink.BulkSink"

  test("writes every row as a JSON doc in bounded bulks and reports counts") {
    val got = new ConcurrentLinkedQueue[Seq[String]]()
    BulkTransports.register("ok") { b => got.add(b); () }
    Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c\n\"q\"", 3.5))
      .toDF("id", "name", "score")
      .repartition(1) // deterministic batching for the size assertion
      .write.format(Fmt)
      .option("transport.id", "ok").option("batchSize", "2")
      .mode("append").save()
    val batches = scala.jdk.CollectionConverters
      .IteratorHasAsScala(got.iterator()).asScala.toSeq
    assert(batches.map(_.size).sorted === Seq(1, 2), "2 + 1 bulk at size 2")
    val docs = batches.flatten.sorted
    assert(docs.size === 3)
    assert(docs.head === """{"id": 1, "name": "a", "score": 1.5}""")
    // control characters escape instead of corrupting the payload
    assert(docs.exists(_.contains("""c\n\"q\"""")))
    val r = BulkSink.lastReport.get()
    assert((r.docs, r.batches, r.failedBatches, r.failedDocs) === ((3L, 2L, 0L, 0L)))
  }

  test("a transient failure retries; a poison bulk quarantines without aborting") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val delivered = new ConcurrentLinkedQueue[String]()
    BulkTransports.register("flaky") { b =>
      // bulk containing id 2 dies forever (poison); every other bulk
      // fails once then succeeds (transient)
      if (b.exists(_.contains("\"id\": 2"))) sys.error("poison")
      else if (attempts.getAndIncrement() % 2 == 0) sys.error("transient")
      else { b.foreach(delivered.add); () }
    }
    Seq(1L, 2L, 3L).toDF("id")
      .repartition(1).sortWithinPartitions($"id")
      .write.format(Fmt)
      .option("transport.id", "flaky").option("batchSize", "1")
      .option("maxAttempts", "3")
      .mode("append").save() // must NOT throw: quarantine, not abort
    val r = BulkSink.lastReport.get()
    assert(r.docs === 2L, s"two docs delivered: $r")
    assert(r.failedBatches === 1L && r.failedDocs === 1L, s"poison quarantined: $r")
    assert(r.retries >= 2L, s"transient failures retried: $r")
    assert(delivered.size === 2)
  }

  test("the sink's counters reach the write's SQL metrics") {
    BulkTransports.register("metered") { _ => () }
    val plans = new LinkedBlockingQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    // an earlier test's write may still have its plan event in flight on
    // the listener bus: deliver it before listening, or poll() takes it
    GraftInternal.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    val docs = try {
      (1L to 7L).toDF("id").repartition(2)
        .write.format(Fmt)
        .option("transport.id", "metered").option("batchSize", "3")
        .mode("append").save()
      Iterator.continually(plans.poll(30, TimeUnit.SECONDS))
        .takeWhile(_ != null)
        .flatMap(_.collectFirst {
          case p if p.metrics.contains("docs") => p.metrics("docs")
        })
        .nextOption()
    } finally spark.listenerManager.unregister(listener)
    assert(docs.isDefined, "the write's executed plan declares a docs metric")
    // the value the SQL status store aggregates from the task updates — it
    // re-creates the metric from its class name to do so
    val store = spark.sharedState.statusStore
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    def aggregated: Option[String] = store.executionsList()
      .find(_.metrics.exists(_.accumulatorId == docs.get.id))
      .flatMap(e => store.executionMetrics(e.executionId).get(docs.get.id))
    // task-end events reach the store asynchronously: wait for the total
    while (!aggregated.contains("7") && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(aggregated === Some("7"), "docs SQL metric equals the rows written")
  }

  test("unsupported column types fail loudly, not as mangled documents") {
    BulkTransports.register("sink") { _ => () }
    val err = intercept[org.apache.spark.SparkException] {
      Seq((1L, Seq("x"))).toDF("id", "arr")
        .write.format(Fmt).option("transport.id", "sink")
        .mode("append").save()
    }
    assert(err.getMessage.contains("bulksink") ||
      Option(err.getCause).exists(_.getMessage.contains("bulksink")))
  }
}
