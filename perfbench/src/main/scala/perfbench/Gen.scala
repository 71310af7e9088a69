package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. The same seed gives byte-identical files.
  *
  * Rides follow the public bike-share export: a Polish header, one file
  * per day with 6.4k–9.3k rides, about 5% of rides ending at the
  * `Poza stacją` sentinel, maintenance rows whose station starts with
  * `#`, rides of two minutes or less, trailing NBSPs in station names,
  * stations missing from the dimension, and a re-export of the previous
  * day's late rides at the top of each file. Snapshots come with the
  * departed/arrived events each must produce, so every timed operation
  * can be checked against the generator's own tally.
  */
object Gen {

  val Outside = "Poza stacją"
  val RideHeader = "UID wynajmu,Numer roweru,Data wynajmu,Data zwrotu," +
    "Stacja wynajmu,Stacja zwrotu,Czas trwania"
  private val Ts = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private val Streets = Seq("Plac Grunwaldzki", "Rynek", "Legnicka",
    "Powstańców Śląskich", "Aleja Hallera", "Kościuszki", "Piłsudskiego",
    "Świdnicka", "Krakowska", "Traugutta", "Curie-Skłodowskiej",
    "Wyszyńskiego", "Szczytnicka", "Na Ostatnim Groszu", "Ślężna",
    "Borowska", "Kasprowicza", "Żmigrodzka", "Grabiszyńska", "Hubska",
    "Bema", "Oławska", "Jedności Narodowej", "Kromera", "Strzegomska",
    "Dworzec Główny", "Nowy Dwór", "Leśnica", "Pilczyce", "Psie Pole")
  private val Landmarks = Seq("Uniwersytet", "Galeria", "Stadion", "Hala",
    "Szpital", "Pętla", "Dworzec", "Park", "Politechnika", "Zajezdnia",
    "Biblioteka", "Urząd")

  /** Dimension and ride-side station names. */
  final case class Stations(
      withCoords: IndexedSeq[(String, Double, Double)],
      maintenance: IndexedSeq[String],
      missing: IndexedSeq[String])

  def stations(seed: Long): Stations = {
    val r = new SplittableRandom(seed * 31 + 7)
    val names = mutable.LinkedHashSet.empty[String]
    while (names.size < 373) {
      val s = Streets(r.nextInt(Streets.size))
      val name = r.nextInt(3) match {
        case 0 => s"$s / ${Streets(r.nextInt(Streets.size))}"
        case 1 => s"$s ${1 + r.nextInt(120)}"
        case _ => s"$s (${Landmarks(r.nextInt(Landmarks.size))})"
      }
      names += name
    }
    val withCoords = names.toIndexedSeq.map(n =>
      (n, 51.05 + r.nextDouble() * 0.12, 16.90 + r.nextDouble() * 0.25))
    val maintenance = (0 until 105).map(i =>
      if (i % 3 == 0) s"# Rowery skradzione Wrocław ${2014 + i % 11}"
      else s"# Serwis ${i + 1}")
    val missing = (1 to 12).map(i => s"Nowa stacja $i")
    Stations(withCoords, maintenance, missing)
  }

  /** The 478-row dimension CSV with an embedded duplicate header. */
  def writeStationsCsv(st: Stations, path: Path): Unit = {
    val rows = st.withCoords.map { case (n, la, lo) =>
      f"$n,$la%.6f,$lo%.6f" } ++ st.maintenance.map(n => s"$n,,")
    val (a, b) = rows.splitAt(rows.size / 2)
    write(path, (Seq("station_name,lat,lon") ++ a ++
      Seq("station_name,lat,lon") ++ b).mkString("", "\n", "\n"))
  }

  /** One generated ride (canonical station names, before rendering). */
  final case class Ride(uid: Long, bike: Int, start: LocalDateTime,
      durationMin: Int, endSeconds: Int, from: String, to: String,
      fromNbsp: Boolean, toNbsp: Boolean) {
    def maintenanceRow: Boolean = from.startsWith("#") || to.startsWith("#")
    def day: LocalDate = start.toLocalDate
    def csv: String = {
      val end = start.plusMinutes(durationMin.toLong).plusSeconds(endSeconds.toLong)
      def name(n: String, nbsp: Boolean) = if (nbsp) n + "\u00a0" else n
      s"$uid,$bike,${start.format(Ts)},${end.format(Ts)}," +
        s"${name(from, fromNbsp)},${name(to, toNbsp)},$durationMin"
    }
  }

  /** Rides per day, Monday to Sunday: the reference's 6.4k–9.3k range.
    * The volume follows the calendar, not the seed, so runs with
    * different seeds do the same amount of work. */
  val RidesPerWeekday: Array[Int] = Array(9300, 8900, 9100, 8700, 9000, 7200, 6400)

  // weights of the hour of day a ride starts at: commuting peaks
  private val HourWeights = Array(2, 1, 1, 1, 1, 2, 5, 10, 14, 9, 7, 8, 9, 9,
    9, 11, 14, 16, 13, 10, 8, 6, 4, 3).map(_.toDouble)
  private val HourCdf = HourWeights.scanLeft(0.0)(_ + _).tail
    .map(_ / HourWeights.sum)

  /** The rides of consecutive days. Day files are generated in order
    * because each re-exports the late rides of the day before. */
  final class RideDays(seed: Long, st: Stations, firstDay: LocalDate) {
    private val names = st.withCoords.map(_._1)
    private var nextUid = 232000000L + (seed % 1000) * 100000L
    private var previous: IndexedSeq[Ride] = IndexedSeq.empty

    def day(i: Int): LocalDate = firstDay.plusDays(i.toLong)

    /** Rides that start on day `i`, generated from (seed, i) alone. */
    private def ridesOf(i: Int): IndexedSeq[Ride] = {
      val r = new SplittableRandom(seed * 1000003L + i)
      val d = day(i)
      val n = RidesPerWeekday(d.getDayOfWeek.getValue - 1)
      (0 until n).map { _ =>
        val u = r.nextDouble()
        val hour = HourCdf.indexWhere(_ >= u) max 0
        val start = d.atTime(hour, r.nextInt(60), r.nextInt(60))
        val dur = r.nextInt(100) match {
          case k if k < 3 => r.nextInt(3)              // <= 2 min
          case 3 if r.nextInt(10) == 0 => 1440 + r.nextInt(2000) // multi-day
          case _ => 3 + (math.abs(r.nextGaussian()) * 18).toInt
        }
        def station(): String = r.nextInt(1000) match {
          case k if k < 6 => st.maintenance(r.nextInt(st.maintenance.size))
          case k if k < 26 => st.missing(r.nextInt(st.missing.size))
          case _ => names(r.nextInt(names.size))
        }
        val from = if (r.nextInt(100) < 4) Outside else station()
        val to = r.nextInt(100) match {
          case k if k < 5 => Outside
          case k if k < 8 && from != Outside => from // round trip
          case _ => station()
        }
        val uid = nextUid; nextUid += 1 + r.nextInt(3)
        Ride(uid, 600000 + r.nextInt(7000), start, dur, r.nextInt(60), from,
          to, r.nextInt(100) < 3, r.nextInt(100) < 3)
      }
    }

    /** Day `i`'s export: the previous generated day's rides that started
      * at 22:00 or later (already exported once), then day `i`'s own. */
    def export(i: Int): (IndexedSeq[Ride], IndexedSeq[Ride]) = {
      val own = ridesOf(i)
      val again = previous.filter(_.start.getHour >= 22)
      previous = own
      (again, own)
    }
  }

  def writeRideCsv(rows: Seq[Ride], path: Path): Unit =
    write(path, (RideHeader +: rows.map(_.csv)).mkString("", "\n", "\n"))

  // ---- Nextbike snapshots ----

  final case class Place(uid: String, name: String, kind: String,
      lat: Double, lng: Double, numbersOnly: Boolean)

  /** A fleet moving between places, one snapshot per minute. */
  final class Snapshots(seed: Long, start: LocalDateTime) {
    private val r = new SplittableRandom(seed * 7919L + 3)
    private val stationPlaces = (0 until 370).map { i =>
      Place((12497000 + i * 13).toString,
        s"${Streets(i % Streets.size)} ${i / Streets.size + 1}", "STATION",
        51.05 + r.nextDouble() * 0.12, 16.90 + r.nextDouble() * 0.25,
        numbersOnly = i % 20 == 7)
    }
    private val freePlaces = (0 until 18).map { i =>
      Place((13500000 + i).toString, s"BIKE ${590000 + i}",
        if (i % 3 == 0) "FREESTANDING_ELECTRIC_BIKE" else "FREESTANDING_BIKE",
        51.05 + r.nextDouble() * 0.12, 16.90 + r.nextDouble() * 0.25,
        numbersOnly = false)
    }
    val places: IndexedSeq[Place] = stationPlaces ++ freePlaces
    private val fleet = (0 until 2000).map(i => 590000 + i)
    private val electric = fleet.map(b => b -> (b % 12 == 0)).toMap
    private val battery = mutable.Map.empty[Int, Int]
    /** bike -> place index; absent while the bike is being ridden */
    private val at = mutable.Map.empty[Int, Int]
    fleet.foreach { b =>
      if (r.nextInt(10) < 9) at(b) = pickPlace()
      if (electric(b)) battery(b) = 20 + r.nextInt(80)
    }
    private var minute = 0

    private def pickPlace(): Int =
      if (r.nextInt(100) < 2) stationPlaces.size + r.nextInt(freePlaces.size)
      else r.nextInt(stationPlaces.size)

    private def stationId(p: Int): String =
      if (places(p).kind.startsWith("FREESTANDING")) "freestanding"
      else places(p).uid

    /** (departed, arrived) events the next snapshot must produce against
      * the current one, then the next snapshot's JSON. */
    def next(): (Long, Long, String) = {
      val before = at.toMap
      fleet.foreach { b =>
        at.get(b) match {
          case Some(_) if r.nextInt(1000) < 15 => at.remove(b)
          case None if r.nextInt(1000) < 150 => at(b) = pickPlace()
          case Some(_) if r.nextInt(1000) < 3 => at(b) = pickPlace() // rebalanced
          case _ =>
        }
      }
      var dep = 0L; var arr = 0L
      fleet.foreach { b =>
        (before.get(b), at.get(b)) match {
          case (Some(p), None) => dep += 1
          case (None, Some(_)) => arr += 1
          case (Some(p), Some(q)) if stationId(p) != stationId(q) =>
            dep += 1; arr += 1
          case _ =>
        }
      }
      minute += 1
      (dep, arr, json(minute))
    }

    def current(): String = json(minute)

    private def json(m: Int): String = {
      val fetched = start.plusMinutes(m.toLong).plusSeconds((m * 7 % 5).toLong)
        .atOffset(ZoneOffset.ofHours(2))
        .format(DateTimeFormatter.ISO_OFFSET_DATE_TIME)
      val bikesAt = at.toSeq.groupBy(_._2).map { case (p, bs) =>
        p -> bs.map(_._1).sorted }
      val placeJson = places.indices.map { i =>
        val p = places(i)
        val bs = bikesAt.getOrElse(i, Nil)
        val bikes =
          if (p.numbersOnly) s""""bikes":[],"bikeNumbers":[${bs.mkString(",")}]"""
          else s""""bikes":[${bs.map { b =>
            if (electric(b))
              s"""{"number":$b,"bikeType":"ELECTRIC_4G","battery":${battery(b)}}"""
            else s"""{"number":$b,"bikeType":"STANDARD_4G","battery":null}"""
          }.mkString(",")}]"""
        s"""{"uid":"${p.uid}","name":"${p.name}","placeType":"${p.kind}",""" +
          s""""geoCoords":{"lat":${p.lat},"lng":${p.lng}},$bikes}"""
      }
      s"""{"_fetched_at":"$fetched","data":[{"cities":[{"places":[""" +
        placeJson.mkString(",\n") + "]}]}]}\n"
    }
  }

  def write(path: Path, text: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, text.getBytes(StandardCharsets.UTF_8))
  }
}
