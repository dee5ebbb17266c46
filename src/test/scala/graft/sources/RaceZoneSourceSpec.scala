package graft.sources

import graft.SparkSpec
import graft.sources.racezone.RaceZone

/** DSv2 raw-zone connector: correctness, file-level pushdown pruning, and
  * the metadata-only (never-open-a-file) column-pruned path.
  */
class RaceZoneSourceSpec extends SparkSpec {

  import spark.implicits._

  private val Fmt = "graft.sources.racezone.RaceZoneSource"

  private def writeZone(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-racezone").toString
    def race(year: Int, round: Int, name: String, city: String): Unit = {
      val json =
        s"""{"season":"$year","round":"$round","raceName":"$name",
           |"date":"$year-03-${10 + round}",
           |"Circuit":{"circuitId":"c$round","circuitName":"Circuit $name"},
           |"city":"$city","country":"Country$round"}""".stripMargin
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/races_${year}_$round.json"), json)
    }
    race(2022, 1, "Bahrain GP", "Sakhir")
    race(2022, 2, "Saudi GP", "Jeddah")
    race(2023, 1, "Bahrain GP", "Sakhir")
    race(2023, 2, "Saudi GP", "Jeddah")
    race(2024, 1, "Bahrain GP", "Sakhir")
    // a non-matching file must be ignored, not crash the listing
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_manifest.txt"), "not a race")
    dir
  }

  test("reads every race file with filename-derived year/round") {
    val dir = writeZone()
    val rows = spark.read.format(Fmt).load(dir)
      .select($"year", $"round", $"raceName", $"circuit", $"city")
      .as[(Int, Int, String, String, String)].collect().sortBy(r => (r._1, r._2))
    assert(rows.length === 5)
    assert(rows.head === ((2022, 1, "Bahrain GP", "Circuit Bahrain GP", "Sakhir")))
    assert(rows.map(_._1).distinct.toSeq === Seq(2022, 2023, 2024))
  }

  test("year predicate prunes files at planning: pruned files never open") {
    val dir = writeZone()
    RaceZone.opened.clear()
    val df = spark.read.format(Fmt).load(dir).filter($"year" === 2022)
    // planning-time pruning → only the 2022 files become partitions
    assert(df.rdd.getNumPartitions === 2)
    val got = df.select($"round", $"raceName")
      .as[(Int, String)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((1, "Bahrain GP"), (2, "Saudi GP")))
    val openedFiles = RaceZone.opened.iterator()
    val paths = scala.jdk.CollectionConverters
      .IteratorHasAsScala(openedFiles).asScala.toSet
    assert(paths.forall(_.contains("races_2022_")),
      s"pruned files were opened: $paths")
  }

  test("the registered racezone_agg query prunes its fixture files at planning time") {
    val dir = sf("sf0.001")
    RaceZone.opened.clear()
    val got = Ingest.raceZoneAgg.run(spark, dir)
      .as[(Long, Long, String, Long)].collect().toSeq
    // 25 nations → years 1990..1994 × 5 rounds; year >= 1992 keeps 3 years
    assert(got.map(_._1) === Seq(1992L, 1993L, 1994L))
    assert(got.map(_._2).sum === 15L, "five races per surviving year")
    // planning-time pruning: none of the 10 files below 1992 was opened
    val paths = scala.jdk.CollectionConverters
      .IteratorHasAsScala(RaceZone.opened.iterator()).asScala.toSet
    assert(paths.nonEmpty, "content columns must force real file opens")
    assert(paths.forall(p => !p.contains("_1990_") && !p.contains("_1991_")),
      s"pruned files were opened: $paths")
    graft.SessionMemos.releaseAll(spark)
  }

  test("content predicates stay residual and still filter correctly") {
    val dir = writeZone()
    val got = spark.read.format(Fmt).load(dir)
      .filter($"city" === "Jeddah" && $"year" >= 2023)
      .select($"year", $"round").as[(Int, Int)].collect().sorted
    assert(got.toSeq === Seq((2023, 2)))
  }

  test("a (year, round)-only projection answers from file names alone") {
    val dir = writeZone()
    RaceZone.opened.clear()
    val got = spark.read.format(Fmt).load(dir)
      .select($"year", $"round").as[(Int, Int)].collect()
    assert(got.length === 5)
    assert(RaceZone.opened.isEmpty,
      "metadata-only projection must not open any file content")
  }

  test("reported statistics reflect pruning, and the pruned scan broadcasts") {
    val dir = writeZone()
    // stats surface: the optimizer's view of the pruned scan must carry
    // the POST-pruning row count (2 files survive year=2022), not the
    // no-stats default (defaultSizeInBytes ≈ ∞, which would veto every
    // broadcast) — SupportsReportStatistics is what flips this
    val pruned = spark.read.format(Fmt).load(dir).filter($"year" === 2022)
    val scanStats = pruned.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.computeStats()
    }
    assert(scanStats.nonEmpty)
    assert(scanStats.head.rowCount.contains(BigInt(2)),
      s"post-pruning row count must be exact: ${scanStats.head}")
    assert(scanStats.head.sizeInBytes < 10L * 1024 * 1024,
      "pruned zone scan must report broadcast-small bytes")
    // join-strategy surface: joining the pruned zone against a frame big
    // enough to stay on the probe side must put the ZONE on the build
    // side of a broadcast hash join
    val facts = spark.range(0, 100000)
      .select(($"id" % 3 + 1).cast("int").as("round"), $"id".as("metric"))
    val joined = pruned.select($"round", $"raceName").join(facts, Seq("round"))
    val bhj = joined.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty,
      s"pruned scan must broadcast:\n${joined.queryExecution.sparkPlan}")
    // and the result is still correct through the broadcast path: the
    // zone's surviving rounds are {1, 2}, the facts' are {1, 2, 3} —
    // ids with id%3 ∈ {0, 1} survive
    assert(joined.count() === (0L until 100000L).count(id => id % 3 < 2))
  }

  test("a runtime-derived year set prunes files at execution (SupportsRuntimeFiltering)") {
    val dir = writeZone()
    RaceZone.opened.clear()
    // the dim's surviving year set exists only after its filter RUNS —
    // no static constraint can precompute it, so any pruning observed on
    // the zone side is genuinely execution-time (DPP through the DSv2
    // SupportsRuntimeFiltering hook). The dim must be FILE-backed: a
    // local Seq collapses to a LocalRelation at constant folding, and
    // PartitionPruning requires a live selective Filter on the dim plan.
    val dimPath = java.nio.file.Files.createTempDirectory("graft-rzdim")
      .toString + "/dim"
    Seq((2022, "keep"), (2023, "keep"), (2024, "drop"))
      .toDF("y", "tag").write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter($"tag" === "keep")
    val fact = spark.read.format(Fmt).load(dir)
      .select($"year", $"raceName") // content column → survivors must open
    // broadcast the DIM explicitly: the zone's own reported stats are
    // broadcast-small at spec scale, so Spark would otherwise broadcast
    // the FACT side — and DPP (reuseBroadcastOnly default) only injects
    // when the filtering side's broadcast exists to reuse. At real zone
    // scale the stats make this the natural shape without the hint.
    val joined = fact.join(org.apache.spark.sql.functions.broadcast(dim),
        $"year" === $"y")
      .select($"year", $"raceName", $"tag")
    val rows = joined.collect()
    // correctness first: exactly the 2022+2023 races survive the join
    assert(rows.length === 4)
    assert(rows.map(_.getInt(0)).toSet === Set(2022, 2023))
    // the scan carries an injected dynamic-pruning runtime filter
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no runtime filter reached the racezone scan:\n$plan")
    // and the pruned file (2024) was never OPENED: the runtime filter
    // dropped its partition before any reader was scheduled — the
    // execution-time twin of the planning-time pushdown test above
    val paths = java.util.Collections.list(new java.util.Vector(
      RaceZone.opened).elements()).toArray.map(String.valueOf).toSet
    assert(paths.nonEmpty, "expected the surviving files to open")
    assert(!paths.exists(_.contains("races_2024_")),
      s"runtime-pruned file was opened: $paths")
  }

  test("the opened record is genuinely bounded: drop-oldest past the cap") {
    RaceZone.opened.clear()
    (0 until RaceZone.openedCap + 10).foreach(i => RaceZone.recordOpened(s"f$i"))
    assert(RaceZone.opened.size === RaceZone.openedCap)
    val kept = scala.jdk.CollectionConverters
      .IteratorHasAsScala(RaceZone.opened.iterator()).asScala.toSet
    assert(!kept.contains("f0"), "oldest entries must be the ones dropped")
    assert(kept.contains(s"f${RaceZone.openedCap + 9}"))
    RaceZone.opened.clear()
  }
}
