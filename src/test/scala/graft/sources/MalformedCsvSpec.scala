package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.f1.Ergast
import org.apache.spark.sql.Row

/** Malformed Meteostat rows through the formatted zone's reader
  * ([[Ingest.csv]] with [[Ergast.weatherSchema]]): a bad cell or a short
  * row lands as NULLs in that row, and never fails the read or touches a
  * well-formed row.
  */
class MalformedCsvSpec extends SparkSpec {

  private lazy val tmp = Files.createTempDirectory("graft-malformed-csv").toString

  test("weather csv: a non-numeric tavg lands as NULL, a short row fills NULLs") {
    val p = s"$tmp/weather.csv"
    Files.writeString(Paths.get(p), Seq(
      "date,tavg,tmin,tmax,prcp,snow,wdir,wspd,wpgt,pres,tsun",
      "2022-03-20,24.1,18.0,30.2,0.0,0,270,11.5,30.0,1012.3,",
      "2022-03-21,warm,17.5,29.8,1.2,0,265,10.1,28.4,1011.9,",
      "2022-03-22,22.4,16.9").mkString("", "\n", "\n"))
    val rows = Ingest.csv(spark, p, Ergast.weatherSchema)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet === Set("2022-03-20", "2022-03-21", "2022-03-22"))
    assert(rows("2022-03-20") ===
      Row("2022-03-20", 24.1, 18.0, 30.2, 0.0, 0.0, 270.0, 11.5, 30.0, 1012.3, null))
    assert(rows("2022-03-21") ===
      Row("2022-03-21", null, 17.5, 29.8, 1.2, 0.0, 265.0, 10.1, 28.4, 1011.9, null))
    assert(rows("2022-03-22") ===
      Row("2022-03-22", 22.4, 16.9, null, null, null, null, null, null, null, null))
  }
}
