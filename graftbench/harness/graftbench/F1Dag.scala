package graftbench

import java.io.File
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.f1.{Ergast, F1Analytics}
import graft.sources.Ingest
import graft.sources.bulksink.{BulkSink, BulkTransports}

/** In-process bulk transport. It refuses the first attempt of every batch
  * whose first document hashes into a fixed quarter of the key space, so
  * the sink's retry path runs on the clock and does the same work on every
  * pass.
  */
object Transport {
  val Id = "graftbench"
  val received = new AtomicLong()
  private val refused = ConcurrentHashMap.newKeySet[String]()

  def install(): Unit = BulkTransports.register(Id) { batch =>
    val key = MessageDigest.getInstance("MD5")
      .digest(batch.head.getBytes("UTF-8")).map("%02x".format(_)).mkString
    if (Integer.parseInt(key.take(2), 16) % 4 == 0 && refused.add(key))
      throw new java.io.IOException(s"transient refusal of batch $key")
    received.addAndGet(batch.size.toLong)
  }

  /** Forget refusals, so the next index op meets the same refusals. */
  def reset(): Unit = refused.clear()
}

/** The reference's batch chain as ops, on the raw zone `f1zone.py` wrote:
  * raw JSON + CSV → formatted parquet → combine → nine usage queries, each
  * written as one parquet file → bulk index of every usage table.
  */
final class F1Dag(spark: SparkSession, zone: String) {
  import F1Dag._

  /** (country, city, csv path) per weather file: weather/<country>/<city>.csv */
  private val weatherFiles: Seq[(String, String, String)] =
    new File(zone, "weather").listFiles().toSeq.sortBy(_.getName).flatMap { c =>
      c.listFiles().toSeq.sortBy(_.getName)
        .map(f => (c.getName, f.getName.stripSuffix(".csv"), f.getPath))
    }

  def formatF1(out: String): Unit = {
    val fact = Ergast.factTable(
      Ingest.json(spark, s"$zone/raceinfo", Ergast.raceInfoSchema, multiLine = true),
      Ingest.json(spark, s"$zone/results", Ergast.resultsSchema, multiLine = true),
      Ingest.json(spark, s"$zone/pitstops", Ergast.pitstopsSchema, multiLine = true))
    Ingest.writeParquet(fact, s"$out/formatted_f1")
  }

  /** One CSV per city, tagged with its city and country and unioned —
    * the reference's per-city weather landing.
    */
  def formatWeather(out: String): Unit = {
    val parts = weatherFiles.map { case (country, city, path) =>
      Ingest.csv(spark, path, Ergast.weatherSchema)
        .withColumn("city", lit(city)).withColumn("country", lit(country))
    }
    Ingest.writeParquet(parts.reduce(_ unionByName _), s"$out/formatted_weather")
  }

  def combine(out: String): Unit =
    Ingest.writeParquet(
      Ergast.combine(spark.read.parquet(s"$out/formatted_f1"),
        spark.read.parquet(s"$out/formatted_weather")),
      s"$out/combined")

  def usage(name: String, out: String): Unit =
    Ingest.writeParquetSingleFile(
      Usage(name)(spark.read.parquet(s"$out/combined")), s"$out/usage/$name")

  /** Bulk-index every usage table; returns the sink's own report per index
    * and the docs the transport received for it.
    */
  def index(out: String, order: Seq[String]): Seq[Map[String, Any]] = {
    Transport.reset()
    order.map { name =>
      val before = Transport.received.get
      Ingest.prepareForIndexing(spark.read.parquet(s"$out/usage/$name"))
        .write.format("graft.sources.bulksink.BulkSink")
        .option("transport.id", Transport.Id).option("batchSize", "100")
        .mode("append").save()
      val r = BulkSink.lastReport.get
      Map("index" -> name, "docs" -> r.docs, "batches" -> r.batches,
        "retries" -> r.retries, "failed_docs" -> r.failedDocs,
        "received" -> (Transport.received.get - before))
    }
  }
}

object F1Dag {
  /** The nine usage queries, by the name their output directory takes. */
  val Usage: Map[String, DataFrame => DataFrame] = Map(
    "wins" -> F1Analytics.wins,
    "fastestlap" -> F1Analytics.fastestLap,
    "filter" -> F1Analytics.filterDistinct,
    "weather" -> F1Analytics.weatherAgg,
    "evopoints" -> F1Analytics.evoPoints,
    "evopoints_constructor" -> F1Analytics.evoPointsConstructor,
    "pitstop" -> F1Analytics.evoPitstops,
    "circuit_stats" -> F1Analytics.circuitStats,
    "top10" -> F1Analytics.top10)
}
