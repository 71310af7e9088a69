package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Deterministic rides sample in the shapes of FIXTURES.md §1/§2.
  *
  * `sample/` holds seven daily exports, `Historia_przejazdow_2024-6-4_…`
  * to `…_2024-6-10_…`. Each holds the rides that started two days before
  * its export date (the portal's publication lag), 6.4k–9.3k a file,
  * 2024-06-02 to 2024-06-08, and re-exports the previous file's rides
  * that started after 23:00, so a load of consecutive files dedups real
  * rows. The rows carry every edge case the reference's data has:
  * trailing NBSPs in station names, `Poza stacją` on either end, round
  * trips, rides of two minutes or less, multi-day rides, `#` maintenance
  * stations, and stations missing from the dimension (null coordinates).
  *
  * `bike_stations_coords.csv` is the 478-row dimension: 373 stations
  * with coordinates and 105 `#` entries without, with the header
  * repeated mid-file.
  *
  * The seed is fixed: every run writes byte-identical files.
  */
object RideFixtures {

  val Outside = "Poza stacją"
  private val Header = "UID wynajmu,Numer roweru,Data wynajmu,Data zwrotu," +
    "Stacja wynajmu,Stacja zwrotu,Czas trwania"
  private val Ts = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** (day of June 2024 the file is dated, export-time suffix, own rides) */
  private val Exports = Seq(
    (4, "22_17_3", 6400), (5, "22_18_1", 9000), (6, "22_19_4", 9250),
    (7, "22_20_6", 8700), (8, "22_21_5", 8300), (9, "22_22_0", 8900),
    (10, "22_23_2", 7100))

  private val Streets = Seq("Pl. Bema", "Rynek", "Legnicka", "Hallera",
    "Powstańców Śląskich", "Kazimierza Wielkiego", "Sienkiewicza",
    "Wróblewskiego", "Grunwaldzka", "Kochanowskiego", "Świątnicka",
    "Żeromskiego", "Paderewskiego", "Ostrowskiego", "Gajowicka",
    "Zaporoska", "Kozanowska", "Jerzmanowska", "Bierutowska", "Zakrzowska",
    "Ołtaszyńska", "Buforowa", "Opolska", "Wiśniowa", "Karkonoska")
  private val Places = Seq("pętla", "dworzec", "szkoła", "rondo", "park",
    "kampus", "basen", "targowisko", "przychodnia", "osiedle")

  /** Hour-of-day weights of ride starts: the commuting peaks. */
  private val HourWeights = Array(3, 2, 1, 1, 1, 2, 6, 11, 13, 9, 8, 8, 9, 10,
    10, 12, 15, 16, 13, 11, 9, 7, 5, 4).map(_.toDouble)

  /** Writes `sample/` and `bike_stations_coords.csv` under `root`. */
  def write(root: Path): Unit = {
    val r = new SplittableRandom(20240608L)
    val names = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < 373) {
        val a = Streets(r.nextInt(Streets.size))
        seen += (if (r.nextBoolean()) s"$a / ${Streets(r.nextInt(Streets.size))}"
          else s"$a (${Places(r.nextInt(Places.size))})")
      }
      seen.toIndexedSeq
    }
    val maintenance = (1 to 105).map(i =>
      if (i % 4 == 0) s"# Rowery skradzione Wrocław ${2013 + i % 12}"
      else s"# Magazyn serwisowy $i")
    val missing = (1 to 9).map(i => s"Nowa stacja $i")

    def coord(x: Double) = "%.6f".formatLocal(java.util.Locale.ROOT, x)
    val dim = names.map(n =>
      s"$n,${coord(51.04 + 0.13 * r.nextDouble())},${coord(16.88 + 0.26 * r.nextDouble())}") ++
      maintenance.map(n => s"$n,,")
    val (head, tail) = dim.splitAt(dim.size / 2)
    val dimHeader = "station_name,lat,lon"
    lines(root.resolve("bike_stations_coords.csv"), (dimHeader +: head) ++ (dimHeader +: tail))

    val hourCdf = HourWeights.scanLeft(0.0)(_ + _).tail.map(_ / HourWeights.sum)
    def station(): String = r.nextInt(1000) match {
      case k if k < 6 => maintenance(r.nextInt(maintenance.size))
      case k if k < 25 => missing(r.nextInt(missing.size))
      case _ => names((names.size * math.pow(r.nextDouble(), 1.7)).toInt) // skewed
    }
    def rendered(s: String) = if (r.nextInt(100) < 3) s + "\u00a0" else s

    val sample = Files.createDirectories(root.resolve("sample"))
    var uid = 232381515L
    var late = Seq.empty[String]
    Exports.foreach { case (dated, time, n) =>
      val day = LocalDate.of(2024, 6, dated - 2)
      val own = (0 until n).map { _ =>
        val hour = hourCdf.indexWhere(_ >= r.nextDouble()) max 0
        val start = day.atTime(hour, r.nextInt(60), r.nextInt(60))
        val minutes = r.nextInt(100) match {
          case k if k < 3 => r.nextInt(3) // <= 2 min: stored, not counted
          case 3 if r.nextBoolean() => 1440 + r.nextInt(1500) // multi-day
          case _ => 3 + (math.abs(r.nextGaussian()) * 16).toInt
        }
        val end = start.plusMinutes(minutes.toLong).plusSeconds(r.nextInt(60).toLong)
        val from = if (r.nextInt(100) < 3) Outside else station()
        val to = r.nextInt(100) match {
          case k if k < 5 => Outside
          case k if k < 8 && from != Outside => from // round trip
          case _ => station()
        }
        uid += 1 + r.nextInt(3)
        hour -> (s"$uid,${600000 + r.nextInt(7000)},${start.format(Ts)}," +
          s"${end.format(Ts)},${rendered(from)},${rendered(to)},$minutes")
      }
      lines(sample.resolve(s"Historia_przejazdow_2024-6-${dated}_$time.csv"),
        Header +: (late ++ own.map(_._2)))
      late = own.collect { case (h, row) if h == 23 => row }
    }
  }

  private def lines(p: Path, ls: Seq[String]): Unit =
    Files.write(p, ls.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
}
