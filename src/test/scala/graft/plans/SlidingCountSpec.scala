package graft.plans

import graft.SparkSpec
import graft.operators.AsofJoin.bandCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The band count behind `band_join` and `prox_incr_merge`
  * ([[graft.operators.AsofJoin.bandCount]]): brute-force parity on
  * constructed fixtures (window and band edges, ties, nulls, dense and
  * sign-straddling times), the row-local reading of a duplicated id, plan
  * shape (one band-partitioned window with two range frames), its work
  * bound, and full parity with the composed banded-join formulation on
  * real data.
  */
class SlidingCountSpec extends SparkSpec {

  import spark.implicits._

  private def counts(df: DataFrame, w: Long): Map[Long, Long] =
    bandCount(df, "id", "t", w, "n").as[(Long, Long)].collect().toMap

  private def bruteForce(rows: Seq[(Long, Long)], w: Long): Map[Long, Long] =
    rows.map { case (i, t) =>
      i -> rows.count { case (j, u) => j != i && math.abs(u - t) <= w }.toLong
    }.toMap

  test("sliding count: brute-force parity on a fixture spanning partitions") {
    // 400 rows over a span >> window with clustered bursts, so pairs
    // straddle band edges
    val rows = (0 until 400).map { i =>
      val t = (i / 4).toLong * 100L + (i % 4).toLong * 30L
      (i.toLong, t)
    }
    val W = 75L
    val expect = bruteForce(rows, W)
    assert(counts(rows.toDF("id", "t"), W) === expect)
    // sanity: the fixture actually has near pairs and isolated rows
    assert(expect.values.max > 0)
  }

  test("sliding count: exact window edges, duplicate times, null time") {
    val df = Seq(
      (1L, Some(0L)),    // t=10 twice is within W=10
      (2L, Some(10L)),   // equal times both count
      (3L, Some(10L)),
      (4L, Some(21L)),   // 11 from t=10: outside W=10
      (5L, Option.empty[Long]))
      .toDF("id", "t")
    assert(counts(df, 10L) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 0L, 5L -> 0L))
  }

  test("sliding count: many partitions, partitions narrower than 2W (all fringe)") {
    // a fine range partitioning whose per-partition time span is below 2W
    val rows = (0 until 600).map(i => (i.toLong, i.toLong * 3L))
    val W = 40L // partition span ≈ 600·3/24 = 75 < 2W = 80
    val df = rows.toDF("id", "t").repartitionByRange(24, col("t"))
    val expect = bruteForce(rows, W)
    assert(counts(df, W) === expect)
    assert(expect.values.max >= 26) // dense fixture: real window counts
  }

  test("sliding count: negative and sign-straddling times bucket correctly") {
    // the bands are floorDiv(t, 32·W): a truncating division would split
    // the band at 0 and lose pairs that straddle the sign boundary
    val rows = (-300 until 300).map(i => (i.toLong + 1000L, i.toLong * 7L))
    val W = 50L
    val df = rows.toDF("id", "t").repartitionByRange(12, col("t"))
    assert(counts(df, W) === bruteForce(rows, W))
  }

  test("band count: rows at exact multiples of the band width count across it") {
    // B = 32·W = 320: rows on, just below and just above each band edge,
    // including the negative edges, plus pairs exactly W apart across them
    val W = 10L
    val B = 32L * W
    val ts = (-2L to 3L).flatMap(k => Seq(k * B - W, k * B - 1L, k * B, k * B + 1L, k * B + W, k * B + W + 1L))
    val rows = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val expect = bruteForce(rows, W)
    assert(counts(rows.toDF("id", "t"), W) === expect)
    assert(expect.values.max === 4L)
  }

  test("band count: NULL ids emit 0 and are never counted") {
    val df = Seq(
      (Some(1L), Some(0L)),
      (Option.empty[Long], Some(5L)),
      (Some(2L), Some(8L)),
      (Option.empty[Long], Option.empty[Long]),
      (Some(3L), Option.empty[Long]))
      .toDF("id", "t")
    val got = bandCount(df, "id", "t", 10L, "n")
      .as[(Option[Long], Long)].collect().toSeq
    assert(got.sortBy(_.toString) ===
      Seq((None, 0L), (None, 0L), (Some(1L), 1L), (Some(2L), 1L), (Some(3L), 0L)).sortBy(_.toString))
  }

  test("band count: 1500 rows all within W each read 1499") {
    val rows = (0 until 1500).map(i => (i.toLong, i.toLong))
    val df = rows.toDF("id", "t").repartitionByRange(8, col("t"))
    val got = counts(df, 2000L)
    assert(got.size === 1500 && got.values.forall(_ === 1499L))
  }

  test("band count: a duplicated id is counted row by row") {
    // the oracle's GROUP BY id would give id 7 zero (its only neighbour
    // shares its id); the window counts each row's other rows
    val df = Seq((7L, 0L), (7L, 1L), (1L, 1000L)).toDF("id", "t")
    val got = bandCount(df, "id", "t", 10L, "n").as[(Long, Long)].collect().sorted.toSeq
    assert(got === Seq((1L, 0L), (7L, 1L), (7L, 1L)))
  }

  test("band count work: shuffle records ≤ 1.1 × input at ×1 and ×10 density") {
    // the ghost copies a row makes when its ±W span crosses a band edge
    // are about 2/32 of the input; ten copies of every event (offset ids,
    // ten times the neighbours per row) must not change that share
    val dir = sf("sf0.01")
    val W = graft.operators.AsofJoin.BandMicrosForSpec
    val ev = graft.sources.Tables.load(spark, dir, "events")
      .select(col("event_id"), graft.sources.Tables.nanosToMicros("ts").as("t"))
    val ledger = new graft.Ledger(spark)
    try Seq(1, 10).foreach { copies =>
      val df = ev.select(col("event_id"), col("t"),
          explode(sequence(lit(0L), lit(copies - 1L))).as("copy"))
        .select((col("event_id") + col("copy") * 1000000000L).as("event_id"), col("t"))
      val n = df.count()
      val r = ledger.measure(s"band-count-x$copies") {
        val qe = bandCount(df, "event_id", "t", W, "n").queryExecution
        qe.toRdd.foreach(_ => ())
        Some(qe)
      }
      assert(r.error.isEmpty, r.error)
      assert(r.shuffleRecords > 0L && r.shuffleRecords <= n * 11L / 10L,
        s"x$copies: $n input rows, ${r.shuffleRecords} shuffle records")
      assert(bandCount(df, "event_id", "t", W, "n").count() === n)
    } finally ledger.close()
  }

  test("band_join plan: one band window, two range frames, no nested loop") {
    val dir = sf("sf0.001")
    val q = graft.operators.AsofJoin.bandJoin.run(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    val windows = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.size === 1, plan)
    assert("RangeFrame".r.findAllIn(windows.head).size === 2, windows.head)
    assert(windows.head.contains("[band"), windows.head)
    Seq("SlidingCount", "NestedLoop", "Cartesian").foreach(op =>
      assert(!plan.contains(op), s"$op in plan:\n$plan"))
  }

  test("prox_incr_merge plan: two band windows, seam filters pushed to scans") {
    val dir = sf("sf0.001")
    val q = graft.operators.AsofJoin.proxIncr.run(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    val windows = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.size === 2, plan)
    assert(windows.forall("RangeFrame".r.findAllIn(_).size === 2), windows.mkString("\n"))
    Seq("SlidingCount", "NestedLoop", "Cartesian").foreach(op =>
      assert(!plan.contains(op), s"$op in plan:\n$plan"))
    // the seam's half filters must reach the parquet scans as pushed
    // range predicates on ts — the corpus-size-invariance claim
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(pushed.exists(l =>
      l.contains("GreaterThan") || l.contains("LessThan")), pushed.mkString("\n"))
    graft.Scratch.release(spark)
  }

  test("sliding count parity: native ≡ composed banded join on real events") {
    val dir = sf("sf0.001")
    val BandMicros = graft.operators.AsofJoin.BandMicrosForSpec
    val ev = graft.sources.Tables.load(spark, dir, "events")
      .select(col("event_id"), graft.sources.Tables.nanosToMicros("ts").as("t"))
    val native = graft.operators.AsofJoin.bandJoin.run(spark, dir)
      .as[(Long, Long)].collect().toSeq
    val probes = ev.select(col("event_id"), col("t"),
      explode(sequence(
        expr(s"(t - ${BandMicros}L) div ${BandMicros}L"),
        expr(s"(t + ${BandMicros}L) div ${BandMicros}L"))).as("band"))
    val build = ev.select(col("event_id").as("b_id"), col("t").as("b_t"),
      expr(s"t div ${BandMicros}L").as("band"))
    val counts = probes.join(build, Seq("band"))
      .filter(col("b_id") =!= col("event_id") &&
        abs(col("b_t") - col("t")) <= BandMicros)
      .groupBy(col("event_id")).agg(count(lit(1)).as("n_near"))
    val composed = ev.select(col("event_id")).join(counts, Seq("event_id"), "left")
      .withColumn("n_near", coalesce(col("n_near"), lit(0L)))
      .orderBy(col("event_id"))
      .as[(Long, Long)].collect().toSeq
    assert(native === composed)
    assert(native.nonEmpty && native.exists(_._2 > 0))
    graft.Scratch.release(spark)
  }
}
