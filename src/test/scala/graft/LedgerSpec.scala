package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftInternal

/** [[Ledger]] on the shared session at sf0.001: its work counters and
  * fingerprint repeat across runs of one query, a broadcast build's job
  * counts toward the query that ran it, and a plan run through an action
  * (a write, or a count() while the query is built) reaches the record
  * through the session's plan listener.
  */
class LedgerSpec extends SparkSpec {

  private var ledger: Ledger = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    ledger = new Ledger(spark)
  }

  override def afterAll(): Unit = {
    try ledger.close() finally super.afterAll()
  }

  private def run(df: => org.apache.spark.sql.DataFrame): Ledger.Record =
    ledger.measure("spec") {
      val qe = df.queryExecution
      qe.toRdd.foreach(_ => ())
      Some(qe)
    }

  test("two runs of one query give equal rows, shuffle records, jobs and fingerprint") {
    val dir = sf("sf0.001")
    val Seq(a, b) = (1 to 2).map(_ => run(SparkEntry.queries("cube_agg")(spark, dir)))
    assert(a.error.isEmpty, a.error)
    assert(a.inputRows > 0 && a.shuffleRecords > 0 && a.jobs > 0, a.toJson)
    assert((b.inputRows, b.shuffleRecords, b.jobs, b.fingerprint) ===
      (a.inputRows, a.shuffleRecords, a.jobs, a.fingerprint))
    assert(a.fingerprint.contains("exchanges="), a.fingerprint)
    assert(a.topRows.nonEmpty, a.toJson)
  }

  test("a broadcast join's build-side job counts toward its own query") {
    val dir = sf("sf0.001")
    val jobs = mutable.ArrayBuffer.empty[SparkListenerJobStart]
    val watch = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized(jobs += e)
    }
    spark.sparkContext.addSparkListener(watch)
    val r = try run(sources.Tables.load(spark, dir, "orders")
        .join(broadcast(sources.Tables.load(spark, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n")))
      finally {
        GraftInternal.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(watch)
      }
    assert(r.fingerprint.contains("BroadcastHashJoin/Inner"), r.fingerprint)
    def prop(j: SparkListenerJobStart, k: String): Option[String] =
      Option(j.properties).flatMap(p => Option(p.getProperty(k)))
    // the build side runs in a thread of its own, under a job tag of its
    // own, yet carries the scope and so counts toward the query
    val build = jobs.filter(prop(_, "spark.job.tags").exists(_.contains("broadcast")))
    assert(build.nonEmpty, jobs.map(prop(_, "spark.job.tags")))
    assert(build.forall(prop(_, Ledger.ScopeProperty).isDefined))
    assert(r.jobs === jobs.size.toLong, r.toJson)
  }

  test("a count() run while the query is built has its operators in the record") {
    val r = ledger.measure("spec-hops") {
      // an iterative query's per-hop action: it runs before the final
      // plan exists and shares no operator with it
      spark.range(1000).select((col("id") % 7).as("hop_key"))
        .groupBy(col("hop_key")).count().count()
      val qe = spark.range(3).toDF("id").queryExecution
      qe.toRdd.foreach(_ => ())
      Some(qe)
    }
    assert(r.error.isEmpty, r.error)
    assert(r.topRows.exists(_._1 == "HashAggregate[hop_key]"), r.toJson)
    // the fingerprint stays the final plan's
    assert(!r.fingerprint.contains("HashAggregate"), r.fingerprint)
  }

  test("a write reaches its record through the plan listener; pauses read >= 0") {
    val out = Files.createTempDirectory("ledger-spec").resolve("o").toString
    val r = ledger.measure("spec-write") {
      spark.range(100).toDF("id").write.mode("overwrite").parquet(out)
      None
    }
    assert(r.error.isEmpty, r.error)
    assert(r.fingerprint.contains("DataWritingCommand"), r.fingerprint)
    assert(r.jobs >= 1 && r.tasks >= 1, r.toJson)
    assert(r.pauseS >= 0.0)
    assert(r.deserS >= 0.0, r.toJson)
    assert(r.toJson.contains("\"deser_s\":"), r.toJson)
  }

  test("a record splits the JVM's cold costs: codegen seconds, classes loaded, JIT time") {
    // a projection no earlier test ran: new generated code
    val r = run(spark.range(50).selectExpr("id * 31 + 7 AS cold_split_probe"))
    assert(r.error.isEmpty, r.error)
    assert(r.compiles > 0 && r.codegenS > 0.0, r.toJson)
    assert(r.classesLoaded >= 0L && r.jitMs >= 0L, r.toJson)
    for (k <- Seq("codegen_s", "classes_loaded", "jit_ms"))
      assert(r.toJson.contains(s"\"$k\":"), r.toJson)
  }
}
