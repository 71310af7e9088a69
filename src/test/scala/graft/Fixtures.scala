package graft

import java.nio.file.Paths

/** Test inputs: fixtures checked in under `src/test/resources`, as file
  * paths, and generated ones. */
object Fixtures {

  /** File-system path of the fixture at `name` (relative to resources). */
  def path(name: String): String = {
    val url = Option(getClass.getResource("/" + name))
      .getOrElse(sys.error(s"missing test fixture $name"))
    Paths.get(url.toURI).toString
  }

  /** Nextbike snapshot pair (FIXTURES.md §3): bike 590066 is freestanding
    * in snapA and docked at `Wrocław Leśnica, stacja kolejowa` in snapB. */
  lazy val snapA: String = path("status/snapA.json")
  lazy val snapB: String = path("status/snapB.json")

  /** Rides sample (FIXTURES.md §1/§2, see [[RideFixtures]]), written once
    * per test JVM into a temporary directory: `ridesDir` holds the seven
    * daily CSV exports, `stationsCsv` is the station dimension. */
  private lazy val rides: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-rides-fixture")
    RideFixtures.write(root)
    root
  }
  lazy val ridesDir: String = rides.resolve("sample").toString
  lazy val stationsCsv: String = rides.resolve("bike_stations_coords.csv").toString

  /** A 30-minute ride from A to B starting at 10:00 on `day`. */
  def ride(uid: Long, day: String, dist: Option[Double],
      coords: Option[(Double, Double, Double, Double)] = None): graft.model.Ride =
    graft.model.Ride(Some(uid), Some("b"),
      Some(java.sql.Timestamp.valueOf(s"$day 10:00:00")),
      Some(java.sql.Timestamp.valueOf(s"$day 10:30:00")), Some("A"), Some("B"), Some(30),
      coords.map(_._1), coords.map(_._2), coords.map(_._3), coords.map(_._4), dist)
}
