package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._

import graft.ingest.{RideCsv, StationCsv}
import graft.transform.RideTransform

/** Goldens from reference tests/test_data_load_sqlite.py. */
class RideTransformSpec extends SparkSpec {

  private def writeFile(dir: String, name: String, content: String): String = {
    val p = Paths.get(dir, name)
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  private val ridesHeader =
    "UID wynajmu,Numer roweru,Data wynajmu,Data zwrotu,Stacja wynajmu,Stacja zwrotu,Czas trwania"

  // reference test_transform_data_distance_and_columns (:31–69)
  test("column contract and types after transform") {
    val dir = tmpDir("transform")
    val stations = writeFile(dir, "stations.csv",
      "station_name,lat,lon\nLegnicka (Park Magnolia),51.122,16.987\nRynek,51.110,17.032\n")
    val rides = writeFile(dir, "rides.csv",
      s"""$ridesHeader
         |1,100,2025-04-07 13:52:45,2025-04-07 14:00:00,Legnicka (Park Magnolia),Rynek,1304
         |2,101,2025-04-07 13:59:45,2025-04-07 14:05:00,Rynek,Legnicka (Park Magnolia),900
         |""".stripMargin)

    val out = RideTransform(RideCsv.read(spark, rides), StationCsv.read(spark, stations))
    assert(out.columns.toSeq === Seq("uid", "bike_number", "start_time", "end_time",
      "start_station", "end_station", "duration",
      "lat_start", "lon_start", "lat_end", "lon_end", "distance"))
    val types = out.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("uid") === LongType)
    assert(types("start_time") === TimestampType)
    assert(types("duration") === IntegerType)
    assert(types("distance") === DoubleType)
    val rows = out.orderBy("uid").collect()
    assert(rows.length === 2)
    assert(rows.forall(!_.isNullAt(11)), "distance computed and non-null")
  }

  // reference test_transform_data_handles_duplicate_header_and_string_coords (:72–112)
  test("duplicate embedded header row + string coords still yield distance") {
    val dir = tmpDir("duphdr")
    val stations = writeFile(dir, "stations_dup_header.csv",
      "station_name,lat,lon\nStart,51.100000,17.000000\nstation_name,lat,lon\nEnd,51.105000,17.010000\n")
    val rides = writeFile(dir, "rides.csv",
      s"$ridesHeader\n1,100,2025-09-07 10:00:00,2025-09-07 10:10:00,Start,End,600\n")

    val out = RideTransform(RideCsv.read(spark, rides), StationCsv.read(spark, stations))
    val d = out.select("distance").head().getDouble(0)
    // haversine(51.1,17.0 → 51.105,17.01) ≈ 0.891 km; tolerance 0.01
    val expected = {
      val R = 6371.0088
      val dphi = math.toRadians(0.005); val dl = math.toRadians(0.01)
      val a = math.pow(math.sin(dphi / 2), 2) +
        math.cos(math.toRadians(51.1)) * math.cos(math.toRadians(51.105)) *
          math.pow(math.sin(dl / 2), 2)
      2 * R * math.asin(math.sqrt(a))
    }
    assert(math.abs(d - BigDecimal(expected).setScale(3, BigDecimal.RoundingMode.HALF_EVEN).toDouble) < 0.01)
  }

  // reference test_distance_km_rounding_precision (:115–127): ≈0.546 km
  test("distance rounding to 3 decimals matches the 0.546 km golden") {
    import graft.functions.Geo
    import org.apache.spark.sql.functions._
    val df = spark.range(1).select(
      Geo.distanceKm(lit(51.109782), lit(17.030175), lit(51.113871), lit(17.034484))
        .as("d"))
    val d = df.head().getDouble(0)
    assert(math.abs(d - 0.546) < 0.005)
  }

  test("NBSP strip, rstrip, 'nan'→NULL, and null-safe '#' filter") {
    val dir = tmpDir("cleanup")
    val stations = writeFile(dir, "stations.csv",
      "station_name,lat,lon\nRynek,51.110,17.032\n")
    // row1: NBSP inside + trailing space; row2: literal 'nan' end station;
    // row3: '#' start station (dropped); row4: empty stations (kept)
    val rides = writeFile(dir, "rides.csv",
      s"""$ridesHeader
         |1,100,2025-04-07 10:00:00,2025-04-07 10:30:00,Ry nek ,Rynek,30
         |2,101,2025-04-07 11:00:00,2025-04-07 11:30:00,Rynek,nan,30
         |3,102,2025-04-07 12:00:00,2025-04-07 12:30:00,#Magazyn,Rynek,30
         |4,103,2025-04-07 13:00:00,2025-04-07 13:30:00,,,30
         |""".stripMargin)

    val out = RideTransform(RideCsv.read(spark, rides), StationCsv.read(spark, stations))
      .orderBy("uid").collect()
    assert(out.length === 3, "#-station row dropped, null-station row kept")
    assert(out(0).getString(4) === "Rynek", "NBSP removed and rstripped")
    assert(out(1).isNullAt(5), "'nan' coerced to NULL")
    assert(out(2).isNullAt(4) && out(2).isNullAt(5))
  }

  test("malformed uid/timestamp/duration coerce to NULL, not error") {
    val dir = tmpDir("coerce")
    val stations = writeFile(dir, "stations.csv",
      "station_name,lat,lon\nRynek,51.110,17.032\n")
    val rides = writeFile(dir, "rides.csv",
      s"$ridesHeader\nnot_a_number,100,garbage,2025-04-07 10:30:00,Rynek,Rynek,abc\n")
    val row = RideTransform(RideCsv.read(spark, rides), StationCsv.read(spark, stations)).head()
    assert(row.isNullAt(0) && row.isNullAt(2) && row.isNullAt(6))
    assert(row.getString(4) === "Rynek")
  }

  // reference test_distance_km_rounding_precision (:115–127): the DEFAULT
  // path now stores geodesic distances — 3-dp-exact parity with the
  // reference's geopy-stored 0.546 km golden.
  test("default (geodesic) path matches the reference's stored 0.546 km exactly") {
    val dir = tmpDir("geodesic")
    val stations = writeFile(dir, "stations.csv",
      "station_name,lat,lon\nA,51.109782,17.030175\nB,51.113871,17.034484\n")
    val rides = writeFile(dir, "rides.csv",
      s"$ridesHeader\n1,100,2025-04-07 10:00:00,2025-04-07 10:30:00,A,B,30\n")
    val raw = RideCsv.read(spark, rides)
    val st = StationCsv.read(spark, stations)
    val geo = RideTransform(raw, st).head().getDouble(11)
    val hav = RideTransform(raw, st, useGeodesic = false).head().getDouble(11)
    assert(geo === 0.546, s"geodesic default must hit the stored golden, got $geo")
    assert(math.abs(geo - hav) < 0.01 && geo != hav,
      s"distinct but close: hav=$hav geo=$geo")
  }

  test("sample CSV from the reference loads and transforms end-to-end") {
    val sample = s"${Fixtures.ridesDir}/Historia_przejazdow_2024-6-8_22_21_5.csv"
    val stations = Fixtures.stationsCsv
    val out = RideTransform(RideCsv.read(spark, sample), StationCsv.read(spark, stations))
    val n = out.count()
    assert(n > 8000, s"expected ~8125 rows, got $n")
    // no '#' stations survive
    import org.apache.spark.sql.functions._
    assert(out.filter(col("start_station").startsWith("#") ||
      col("end_station").startsWith("#")).count() === 0)
    // distances present whenever all coords are present
    assert(out.filter(col("lat_start").isNotNull && col("lon_start").isNotNull &&
      col("lat_end").isNotNull && col("lon_end").isNotNull &&
      col("distance").isNull).count() === 0)
  }
}
