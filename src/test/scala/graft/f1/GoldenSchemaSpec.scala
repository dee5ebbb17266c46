package graft.f1

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** Schema parity against the reference's committed golden outputs
  * (SURVEY.md §1.1e). Every usage-query output must carry the EXACT golden
  * column names (including the `ConstructorName` casing quirk), order, and
  * types — a user switching engines must get byte-compatible schemas
  * downstream (their ES indexers key on these names).
  *
  * The expected schemas come from two places:
  *   - the committed resource `golden_schemas.ddl`, one `name<TAB>DDL` line
  *     per output, copied from the golden-output tables of SURVEY.md §1.1e
  *     and FIXTURES.md §A7 (i64 → BIGINT, str → STRING, f64 → DOUBLE). It
  *     covers six outputs: wins, fastestlap, filter, weather2324, evopoints
  *     and pitstop. These six tests run on every checkout.
  *   - the golden parquet files themselves (Spark 3.5.1 metadata), in the
  *     reference checkout's `Martin files/index` directory (`goldenDir`),
  *     where it exists. The six tests above then also compare against the
  *     parquet schema. The constructor test needs the parquet:
  *     both documents give its schema only as "+ ConstructorName str", which
  *     leaves the column's position open. Without the reference it cancels.
  */
class GoldenSchemaSpec extends SparkSpec {

  private val goldenDir = "/root/reference/Martin files/index"

  private def goldenPresent: Boolean = Files.isDirectory(Paths.get(goldenDir))

  /** The documented golden schemas by output name, from the test resource
    * `golden_schemas.ddl` (`name<TAB>DDL` lines).
    */
  private lazy val documented: Map[String, StructType] = {
    val src = scala.io.Source.fromResource("golden_schemas.ddl", getClass.getClassLoader)
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(name, ddl) = line.split("\t", 2)
      name -> StructType.fromDDL(ddl)
    }.toMap
    finally src.close()
  }

  import spark.implicits._

  // minimal combined table with every column the queries touch
  private lazy val combined = {
    import org.apache.spark.sql.functions._
    Seq(("1", "Bahrain Grand Prix"))
      .toDF("round", "raceName")
      .select(lit(2022L).as("year"), col("round"), col("raceName"),
        lit("2022-03-20").as("date"), lit("Bahrain").as("circuit"),
        lit("Sakhir").as("city"), lit("Bahrain").as("country"),
        lit("leclerc").as("driverId"), lit("Charles Leclerc").as("driverFullName"),
        lit("Ferrari").as("constructorName"), lit(25.0).as("points"),
        lit(25.0).as("totalPoints"), lit("1").as("position"),
        lit("1").as("grid"), lit("57").as("laps"), lit("Finished").as("status"),
        lit("01:37:33.58").as("time"), lit("1:34.570").as("fastestLapTime"),
        lit(2L).as("pitStops"),
        lit(24.1).as("tavg"), lit(18.9).as("tmin"), lit(29.3).as("tmax"),
        lit(0.0).as("prcp"), lit(14.8).as("wspd"))
  }

  private def assertSameSchema(golden: String, exp: StructType, got: StructType): Unit = {
    assert(got.fieldNames.toSeq === exp.fieldNames.toSeq,
      s"$golden: column names/order diverge from the golden output")
    exp.fields.zip(got.fields).foreach { case (e, g) =>
      assert(g.dataType === e.dataType,
        s"$golden.${e.name}: got ${g.dataType}, golden has ${e.dataType}")
    }
  }

  private def assertParquetSchemaMatches(golden: String, df: DataFrame): Unit =
    assertSameSchema(golden,
      spark.read.parquet(s"$goldenDir/$golden.parquet").schema, df.schema)

  /** Checks the documented schema, then the golden parquet where present. */
  private def assertSchemaMatches(golden: String, df: DataFrame): Unit = {
    assertSameSchema(golden, documented(golden), df.schema)
    if (goldenPresent) assertParquetSchemaMatches(golden, df)
  }

  test("wins matches the golden schema") {
    assertSchemaMatches("wins", F1Analytics.wins(combined))
  }

  test("fastestlap matches the golden schema") {
    assertSchemaMatches("fastestlap", F1Analytics.fastestLap(combined))
  }

  test("filter matches the golden schema") {
    assertSchemaMatches("filter", F1Analytics.filterDistinct(combined))
  }

  test("weather2324 matches the golden schema") {
    assertSchemaMatches("weather2324", F1Analytics.weatherAgg(combined))
  }

  test("evopoints matches the golden schema") {
    assertSchemaMatches("evopoints", F1Analytics.evoPoints(combined))
  }

  test("constructor matches the golden schema (ConstructorName casing)") {
    assume(goldenPresent, s"golden parquet not present: $goldenDir")
    assertParquetSchemaMatches("constructor", F1Analytics.evoPointsConstructor(combined))
  }

  test("pitstop matches the golden schema") {
    assertSchemaMatches("pitstop", F1Analytics.evoPitstops(combined))
  }
}
