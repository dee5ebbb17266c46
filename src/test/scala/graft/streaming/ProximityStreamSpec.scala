package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming proximity count: the stateful twin of the batch band count
  * behind `band_join` (`AsofJoin.bandCount`) — watermark-sealed emission,
  * band-routed state locality, cross-band pairs, eviction, and full
  * stream ≡ batch parity on the real events table.
  */
class ProximityStreamSpec extends SparkSpec {

  import spark.implicits._

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")

  private def us(t: Timestamp): Long =
    (t.getTime / 1000L) * 1000000L + (t.getNanos / 1000L)

  private val W = 2L * 60L * 1000000L // 2 min in micros

  private def start(input: MemoryStream[(Timestamp, Long)], name: String) =
    ProximityStream.proximityCounts(input.toDS(), W, "2 minutes")
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()

  private def counts(name: String): Map[Long, Long] =
    spark.table(name).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap

  test("counts seal on watermark passage; cross-band pairs are seen") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val query = start(input, "prox_out")
    try {
      // events 1..3 mutually within 2 min; event 4 isolated. The band
      // width IS the window (2 min), so the (1, 2) and (2, 3) pairs
      // straddle band boundaries — the routing under test.
      input.addData((ts(0, 30), 1L), (ts(1, 30), 2L), (ts(2, 30), 3L))
      query.processAllAvailable()
      // watermark (max − delay = 10:00:30) has sealed no window yet
      assert(counts("prox_out").isEmpty,
        "counts must wait for the watermark, not fire on arrival")
      // the isolated event plus a heartbeat seal everything
      input.addData((ts(30), 4L), (ts(59), 99L))
      query.processAllAvailable()
      val got = counts("prox_out")
      assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 0L))
    } finally query.stop()
  }

  test("late-but-inside-delay arrivals still count; duplicates of time are fine") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val query = start(input, "prox_late")
    try {
      input.addData((ts(10), 10L), (ts(11), 11L))
      query.processAllAvailable()
      // same event-time as id 10, arriving later but inside the delay
      input.addData((ts(10), 12L))
      query.processAllAvailable()
      input.addData((ts(59), 99L))
      query.processAllAvailable()
      val got = counts("prox_late")
      assert(got === Map(10L -> 2L, 11L -> 2L, 12L -> 2L))
    } finally query.stop()
  }

  test("stream ≡ batch: parity with the native band_join on real events") {
    implicit val sq = spark.sqlContext
    val dir = sf("sf0.001")
    val batch = graft.operators.AsofJoin.bandJoin.run(spark, dir)
      .as[(Long, Long)].collect().toMap
    // replay the real table in event-time order (the ordered-replay
    // convention every stream≡batch spec in EventsStreamSpec uses),
    // preserving full microsecond precision in the Timestamp
    val rowsUs = graft.sources.Tables.load(spark, dir, "events")
      .select(graft.sources.Tables.nanosToMicros("ts").as("t"), col("event_id"))
      .orderBy(col("t"), col("event_id"))
      .as[(Long, Long)].collect()
      .map { case (t, id) =>
        val tt = new Timestamp((t / 1000000L) * 1000L)
        tt.setNanos(((t % 1000000L) * 1000L).toInt)
        (tt, id)
      }
    assert(rowsUs.nonEmpty)
    val input = MemoryStream[(Timestamp, Long)]
    val query = ProximityStream
      .proximityCounts(input.toDS(),
        graft.operators.AsofJoin.BandMicrosForSpec, "10 minutes")
      .writeStream.format("memory").queryName("prox_parity")
      .outputMode(OutputMode.Append).start()
    try {
      rowsUs.grouped(2000).foreach { g =>
        input.addData(g.toIndexedSeq)
        query.processAllAvailable()
      }
      // heartbeat: one far-future row seals every real event
      val last = rowsUs.map(r => us(r._1)).max
      val hb = new Timestamp(last / 1000L + 24L * 3600 * 1000)
      input.addData((hb, 999999999L))
      query.processAllAvailable()
      val streamed = counts("prox_parity") - 999999999L
      assert(streamed === batch,
        "stream≡batch parity with the native sliding-count exec")
      assert(streamed.values.exists(_ > 0))
    } finally query.stop()
    graft.Scratch.release(spark)
  }
}
