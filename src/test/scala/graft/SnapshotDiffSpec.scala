package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ingest.SnapshotJson
import graft.model.Schemas
import graft.status.SnapshotDiff
import graft.streaming.StatusStream

/** Goldens from reference tests/test_bike_status_changes.py against the
  * snapA.json/snapB.json fixtures (FIXTURES.md §3), the one-pass
  * micro-batch checked against a per-pair loop over `SnapshotDiff.events`,
  * and the whole-text parse checked against the multiLine JSON reader and
  * two-branch flatten it replaced. */
class SnapshotDiffSpec extends SparkSpec {

  private val snapA = Fixtures.snapA
  private val snapB = Fixtures.snapB

  private lazy val posA = SnapshotJson.positions(SnapshotJson.read(spark, snapA))
  private lazy val posB = SnapshotJson.positions(SnapshotJson.read(spark, snapB))

  // reference test_snapA_freestanding_electric_station_name (:133–139)
  test("bike 590066 is freestanding in snapA") {
    val rows = posA.filter(col("bike_id") === "590066").collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("station_name") === "freestanding")
    assert(rows.head.getAs[String]("station_id") === "freestanding")
    assert(rows.head.getAs[String]("bike_type") === "electric")
  }

  // reference test_diff_snapshots_detects_events_snapA_to_snapB (:22–41)
  test("snapA→snapB diff: bike 590066 departed freestanding, arrived at station") {
    val tsB = SnapshotJson.read(spark, snapB).select("_fetched_at").head().getString(0)
    assert(tsB === "2025-08-21T15:06:02+02:00")
    val events = SnapshotDiff.events(posA, posB, tsB)
    val e590066 = events.filter(col("bike_id") === "590066").collect()
    assert(e590066.length === 2)
    assert(e590066.map(_.getAs[String]("event_type")).toSet === Set("departed", "arrived"))
    val dep = e590066.find(_.getAs[String]("event_type") == "departed").get
    val arr = e590066.find(_.getAs[String]("event_type") == "arrived").get
    assert(dep.getAs[String]("station_name") === "freestanding")
    assert(arr.getAs[String]("station_name") === "Wrocław Leśnica, stacja kolejowa")
    assert(events.collect().forall(_.getAs[String]("timestamp") === tsB))
  }

  // reference test_freestanding_electric_has_generic_station_name (:97–131)
  test("minimal freestanding-electric fixture normalizes correctly") {
    val dir = tmpDir("snap")
    val payload =
      """{"_fetched_at": "2025-01-01T00:00:00",
        | "data": [{"cities": [{"places": [
        |   {"uid": "568267505", "name": "BIKE 590066",
        |    "placeType": "FREESTANDING_ELECTRIC_BIKE",
        |    "geoCoords": {"lat": 51.14448, "lng": 16.854524},
        |    "bikes": [{"number": 590066, "bikeType": "ELECTRIC_4G", "battery": 30}]}
        | ]}]}]}""".stripMargin
    Files.write(Paths.get(dir, "sample.json"), payload.getBytes(StandardCharsets.UTF_8))
    val pos = SnapshotJson.positions(SnapshotJson.read(spark, dir + "/sample.json"))
    val row = pos.collect().head
    assert(row.getAs[String]("bike_id") === "590066", "numeric bike number read as string")
    assert(row.getAs[String]("station_name") === "freestanding")
    assert(row.getAs[String]("station_id") === "freestanding")
    assert(row.getAs[String]("bike_type") === "electric")
    assert(row.getAs[Double]("battery") === 30.0)
  }

  // reference test_get_latest_files_sort_by_fetched_at (:65–73)
  test("latestFiles sorts by embedded _fetched_at, not filename") {
    val dir = tmpDir("latest")
    def mini(ts: String) =
      s"""{"_fetched_at": "$ts", "data": [{"cities": [{"places": []}]}]}"""
    Files.write(Paths.get(dir, "bike_rides_a.json"), mini("2025-01-01T00:00:01").getBytes)
    Files.write(Paths.get(dir, "bike_rides_b.json"), mini("2025-01-01T00:00:03").getBytes)
    Files.write(Paths.get(dir, "bike_rides_c.json"), mini("2025-01-01T00:00:02").getBytes)
    val latest = SnapshotJson.latestFiles(spark, dir, 2).map(f => f.split('/').last)
    assert(latest === Seq("bike_rides_c.json", "bike_rides_b.json"))
  }

  // reference test_main_works_from_arbitrary_cwd / test_save_events_to_db
  test("runOnce over a landing dir writes events parquet") {
    val dir = tmpDir("landing")
    Files.copy(Paths.get(snapA), Paths.get(dir, "bike_rides_a.json"))
    Files.copy(Paths.get(snapB), Paths.get(dir, "bike_rides_b.json"))
    val eventsPath = tmpDir("events") + "/status"
    val n = StatusStream.runOnce(spark, dir, eventsPath)
    assert(n > 0)
    val written = spark.read.parquet(eventsPath)
    assert(written.count() === n)
    assert(written.filter(col("bike_id") === "590066").count() === 2)
  }

  test("streaming processBatch applies snapshots in _fetched_at order and keeps state") {
    val eventsPath = tmpDir("events") + "/status"
    val statePath = tmpDir("state") + "/last"
    // Feed snapB and snapA in ONE batch — events must reflect A→B (the
    // _fetched_at order, not file order), and state must end at B.
    val dir = tmpDir("batch")
    Files.copy(Paths.get(snapA), Paths.get(dir, "bike_rides_a.json"))
    Files.copy(Paths.get(snapB), Paths.get(dir, "bike_rides_b.json"))
    val batch = SnapshotJson.read(spark, dir)
    val n = StatusStream.processBatch(spark, batch, eventsPath, statePath)
    assert(n > 0)
    val events = spark.read.parquet(eventsPath)
    assert(events.filter(col("bike_id") === "590066").count() === 2)
    // second batch: snapB again → zero new events (no state change)
    val n2 = StatusStream.processBatch(spark,
      SnapshotJson.read(spark, snapB), eventsPath, statePath)
    assert(n2 === 0)
  }

  test("latestFiles breaks _fetched_at ties by file name") {
    val dir = tmpDir("latesttie")
    def mini(ts: String) =
      s"""{"_fetched_at": "$ts", "data": [{"cities": [{"places": []}]}]}"""
    Files.write(Paths.get(dir, "bike_rides_b.json"), mini("2025-01-01T00:00:02").getBytes)
    Files.write(Paths.get(dir, "bike_rides_a.json"), mini("2025-01-01T00:00:02").getBytes)
    Files.write(Paths.get(dir, "bike_rides_c.json"), mini("2025-01-01T00:00:01").getBytes)
    val latest = SnapshotJson.latestFiles(spark, dir, 2).map(f => f.split('/').last)
    assert(latest === Seq("bike_rides_a.json", "bike_rides_b.json"))
  }

  test("re-delivering the newest snapshot appends no event and no file") {
    val eventsPath = tmpDir("events") + "/status"
    val statePath = tmpDir("state") + "/last"
    val dir = tmpDir("batch")
    Files.copy(Paths.get(snapA), Paths.get(dir, "bike_rides_a.json"))
    Files.copy(Paths.get(snapB), Paths.get(dir, "bike_rides_b.json"))
    assert(StatusStream.processBatch(spark, SnapshotJson.read(spark, dir),
      eventsPath, statePath) > 0)
    def logFiles() = new java.io.File(eventsPath).list().toSeq.sorted
    val before = logFiles()
    assert(StatusStream.processBatch(spark, SnapshotJson.read(spark, snapB),
      eventsPath, statePath) === 0)
    assert(logFiles() === before)
  }

  // ---- one-pass batch == per-pair loop over SnapshotDiff.events ----

  /** Snapshot `i` of a 12-bike fleet as Nextbike JSON: four detailed
    * stations, one `bikeNumbers`-only station, freestanding (electric)
    * bikes as their own places. Bike 105 vanishes on odd snapshots and
    * reappears on even ones; bike 101 is listed in two places, and the
    * last listing is its position. */
  private def snapshotJson(i: Int, ts: String): String = {
    val rnd = new scala.util.Random(1000 + i)
    val stations = (1 to 5).map(s => s"S$s")
    def at() = if (rnd.nextInt(4) == 0) "FREE" else stations(rnd.nextInt(5))
    val fleet = (100 until 112).map(_.toString)
      .filter(b => if (b == "105") i % 2 == 0 else b == "101" || rnd.nextInt(7) != 0)
    val placed = fleet.map(b => b -> at()) :+ ("101" -> at())
    def bike(b: String) = {
      val battery = if (b.toInt % 3 == 0) (10 + rnd.nextInt(90)).toString else "null"
      val kind = if (b.toInt % 3 == 0) "ELECTRIC_4G" else "STANDARD_4G"
      s"""{"number": $b, "bikeType": "$kind", "battery": $battery}"""
    }
    def geo(k: Int) = s""""geoCoords": {"lat": ${51.0 + k / 100.0}, "lng": ${17.0 + k / 100.0}}"""
    val docked = stations.zipWithIndex.map { case (s, k) =>
      val here = placed.filter(_._2 == s).map(_._1)
      val list =
        if (s == "S5") s""""bikeNumbers": [${here.map(b => s""""$b"""").mkString(", ")}]"""
        else s""""bikes": [${here.map(bike).mkString(", ")}]"""
      s"""{"uid": "${9000 + k}", "name": "Station $s", "placeType": "STATION", ${geo(k)}, $list}"""
    }
    val free = placed.zipWithIndex.filter(_._1._2 == "FREE").map { case ((b, _), k) =>
      val kind = if (b.toInt % 3 == 0) "FREESTANDING_ELECTRIC_BIKE" else "FREESTANDING_BIKE"
      s"""{"uid": "${7000 + k}", "name": "BIKE $b", "placeType": "$kind", ${geo(k)}, "bikes": [${bike(b)}]}"""
    }
    s"""{"_fetched_at": "$ts", "data": [{"cities": [{"places": [
       |${(docked ++ free).mkString(",\n")}
       |]}]}]}""".stripMargin
  }

  private def positionsOf(path: String): DataFrame =
    SnapshotJson.positions(SnapshotJson.read(spark, path)).drop("_file", "_fetched_at")

  private def rowKeys(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString("|")).sorted

  for (k <- Seq(1, 2, 4, 7); withState <- Seq(false, true))
    test(s"one-pass batch of $k snapshot(s), ${if (withState) "with" else "no"} state " +
        "== per-pair SnapshotDiff.events loop") {
      val dir = tmpDir("backlog")
      // file names run against _fetched_at order; snapshots 2 and 3 share one
      val snaps = (1 to k).map { i =>
        val ts = f"2025-08-21T15:${10 + (if (i == 3) 2 else i)}%02d:02+02:00"
        val name = f"bike_rides_${99 - i}%02d.json"
        Files.write(Paths.get(dir, name),
          snapshotJson(i, ts).getBytes(StandardCharsets.UTF_8))
        (ts, name)
      }
      val base = tmpDir("base") + "/bike_rides_base.json"
      Files.write(Paths.get(base),
        snapshotJson(0, "2025-08-21T15:09:02+02:00").getBytes(StandardCharsets.UTF_8))

      // reference: the per-pair loop, in (_fetched_at, file name) order
      var state = if (withState) Some(positionsOf(base)) else None
      var expected = Seq.empty[Row]
      snaps.sorted.foreach { case (ts, name) =>
        val curr = positionsOf(s"$dir/$name")
        state.foreach(prev => expected ++= SnapshotDiff.events(prev, curr, ts).collect())
        state = Some(curr)
      }

      val eventsPath = tmpDir("events") + "/status"
      val statePath = tmpDir("state") + "/last"
      if (withState)
        assert(StatusStream.processBatch(spark, SnapshotJson.read(spark, base),
          eventsPath, statePath) === 0)
      val n = StatusStream.processBatch(spark, SnapshotJson.read(spark, dir),
        eventsPath, statePath)
      val got =
        if (Files.exists(Paths.get(eventsPath))) rowKeys(spark.read.parquet(eventsPath))
        else Nil
      assert(n === expected.size)
      assert(got === expected.map(_.toSeq.mkString("|")).sorted)
      assert(rowKeys(spark.read.parquet(statePath)) === rowKeys(state.get))
    }

  // ---- whole text + from_json + one explode == multiLine + two branches ----

  /** The multiLine JSON reader the whole-text parse replaced. */
  private def oldRead(path: String): DataFrame =
    spark.read.option("multiLine", "true").schema(Schemas.snapshotSchema)
      .json(path).withColumn("_file", input_file_name())

  /** The two-branch flatten (detailed ∪ minimal) the one-explode
    * `positions` replaced. */
  private def oldPositions(snapshots: DataFrame): DataFrame = {
    val places = snapshots
      .select(col("_file"), col("_fetched_at"),
        posexplode(col("data").getItem(0).getField("cities").getItem(0)
          .getField("places")).as(Seq("place_pos", "place")))
      .withColumn("bike_numbers",
        coalesce(col("place.bikeNumbers"), col("place.bike_numbers")))
      .filter(size(coalesce(col("place.bikes"), array())) > 0 ||
        size(coalesce(col("bike_numbers"), array())) > 0)
      .withColumn("station_name",
        when(upper(coalesce(col("place.placeType"), lit("")))
          .startsWith("FREESTANDING"), lit("freestanding"))
          .otherwise(col("place.name")))
      .withColumn("station_id",
        when(upper(coalesce(col("place.placeType"), lit("")))
          .startsWith("FREESTANDING"), lit("freestanding"))
          .otherwise(col("place.uid")))
      .withColumn("lat", col("place.geoCoords.lat"))
      .withColumn("lon", col("place.geoCoords.lng"))
    val detailed = places
      .filter(size(coalesce(col("place.bikes"), array())) > 0)
      .select(col("_file"), col("_fetched_at"), col("place_pos"),
        col("station_name"), col("station_id"), col("lat"), col("lon"),
        posexplode(col("place.bikes")).as(Seq("bike_pos", "bike")))
      .select(col("_file"), col("_fetched_at"), col("place_pos"), col("bike_pos"),
        col("bike.number").as("bike_id"),
        col("station_name"), col("station_id"), col("lat"), col("lon"),
        when(upper(coalesce(col("bike.bikeType"), lit("")))
          .startsWith("ELECTRIC"), lit("electric"))
          .otherwise(lit("standard")).as("bike_type"),
        col("bike.battery").as("battery"))
    val minimal = places
      .filter(size(coalesce(col("place.bikes"), array())) === 0 &&
        size(coalesce(col("bike_numbers"), array())) > 0)
      .select(col("_file"), col("_fetched_at"), col("place_pos"),
        col("station_name"), col("station_id"), col("lat"), col("lon"),
        posexplode(col("bike_numbers")).as(Seq("bike_pos", "bike_id")))
      .select(col("_file"), col("_fetched_at"), col("place_pos"), col("bike_pos"),
        col("bike_id"),
        col("station_name"), col("station_id"), col("lat"), col("lon"),
        lit(null).cast("string").as("bike_type"),
        lit(null).cast("double").as("battery"))
    val w = Window.partitionBy(col("_file"), col("bike_id"))
      .orderBy(col("place_pos").desc, col("bike_pos").desc)
    detailed.unionByName(minimal)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "place_pos", "bike_pos")
  }

  /** Every place shape the flattener handles: detailed, `bikeNumbers`-only,
    * `bike_numbers`, neither (absent and empty lists), empty `bikes` with
    * ids, both lists, freestanding and freestanding-electric (any case),
    * a NULL place and a NULL bike; bike 500 is listed twice in one place
    * and 501 in two places; numbers are numeric, quoted and decimal;
    * batteries integral, fractional, NULL and absent. */
  private val shapesJson =
    """{"_fetched_at": "2025-08-21T16:00:00+02:00", "data": [{"cities": [{"places": [
      | {"uid": 1, "name": "Detailed", "placeType": "STATION",
      |  "geoCoords": {"lat": 51.1, "lng": 17.0},
      |  "bikes": [{"number": 500, "bikeType": "ELECTRIC_4G", "battery": 55},
      |            {"number": "501", "bikeType": "STANDARD", "battery": null},
      |            {"number": 502.0},
      |            {"number": 500, "bikeType": "STANDARD_4G", "battery": 10.5}]},
      | {"uid": "2", "name": "Numbers only", "placeType": "STATION",
      |  "geoCoords": {"lat": 51.2, "lng": 17.1}, "bikeNumbers": ["503", 504, "501"]},
      | {"uid": "3", "name": "Snake case", "bike_numbers": ["505", 506]},
      | {"uid": "4", "name": "Empty lists", "bikes": [], "bikeNumbers": []},
      | {"uid": "5", "name": "Neither", "placeType": "STATION"},
      | {"uid": "6", "name": "Empty bikes", "bikes": [], "bikeNumbers": ["507"]},
      | {"uid": "7", "name": "BIKE 508", "placeType": "FREESTANDING_BIKE",
      |  "geoCoords": {"lat": 51.3, "lng": 17.2},
      |  "bikes": [{"number": 508, "bikeType": "STANDARD_4G", "battery": null}]},
      | {"uid": "8", "name": "BIKE 509", "placeType": "freestanding_electric_bike",
      |  "bikes": [{"number": 509, "bikeType": "electric_4g", "battery": 88}]},
      | {"uid": "9", "name": "Both", "bikes": [{"number": 510}], "bikeNumbers": ["511"]},
      | {"uid": "10", "name": "Empty first", "bikeNumbers": [], "bike_numbers": ["512"]},
      | null,
      | {"uid": "11", "name": "Null bike", "bikes": [null, {"number": 513}]}
      |]}]}]}""".stripMargin

  /** A landing dir of snapshots, one empty and one malformed file, and
    * one file the `bike_rides_*.json` glob leaves out. */
  private def mixedDir(): String = {
    val dir = tmpDir("mixed")
    def put(name: String, body: String): Unit =
      Files.write(Paths.get(dir, name), body.getBytes(StandardCharsets.UTF_8))
    Files.copy(Paths.get(snapA), Paths.get(dir, "bike_rides_a.json"))
    Files.copy(Paths.get(snapB), Paths.get(dir, "bike_rides_b.json"))
    put("bike_rides_shapes.json", shapesJson)
    (1 to 3).foreach(i => put(s"bike_rides_gen$i.json",
      snapshotJson(i, s"2025-08-21T15:1$i:02+02:00")))
    put("bike_rides_empty.json", "")
    put("bike_rides_bad.json", """{"_fetched_at": "2025-08-21T15:20:02+02:00", "data": [""")
    put("other.json", snapshotJson(9, "2025-08-21T15:19:02+02:00"))
    dir
  }

  test("read + positions == multiLine reader + two-branch positions: " +
    "a file, a directory and a glob") {
    val dir = mixedDir()
    for (path <- Seq(s"$dir/bike_rides_shapes.json", dir, s"$dir/bike_rides_*.json")) {
      assert(rowKeys(SnapshotJson.read(spark, path)) === rowKeys(oldRead(path)),
        s"$path: snapshot rows")
      val got = SnapshotJson.positions(SnapshotJson.read(spark, path))
      val want = oldPositions(oldRead(path))
      assert(got.columns.toSeq === want.columns.toSeq)
      assert(rowKeys(got) === rowKeys(want), s"$path: positions")
    }
    // the shapes document: every id shape and the last listing kept
    val shapes = rowKeys(positionsOf(s"$dir/bike_rides_shapes.json")
      .select("bike_id", "station_id", "bike_type", "battery"))
    assert(shapes === Seq(
      "500|1|standard|10.5", "501|2|null|null", "502.0|1|standard|null",
      "503|2|null|null", "504|2|null|null", "505|3|null|null", "506|3|null|null",
      "507|6|null|null", "508|freestanding|standard|null",
      "509|freestanding|electric|88.0", "510|9|standard|null",
      "513|11|standard|null", "null|11|standard|null").sorted)
  }

  test("an empty or malformed file yields no positions, and processBatch " +
    "on them leaves the state and the event log as they were") {
    val dir = tmpDir("junk")
    Files.write(Paths.get(dir, "bike_rides_empty.json"), Array.emptyByteArray)
    Files.write(Paths.get(dir, "bike_rides_blank.json"), " \n".getBytes)
    Files.write(Paths.get(dir, "bike_rides_bad.json"), "{\"data\": [".getBytes)
    Files.write(Paths.get(dir, "bike_rides_nodata.json"), "{\"data\": []}".getBytes)
    Files.write(Paths.get(dir, "bike_rides_nocity.json"),
      "{\"data\": [{\"cities\": []}]}".getBytes)
    new java.io.File(dir).list().foreach(f =>
      assert(positionsOf(s"$dir/$f").count() === 0, f))
    val eventsPath = tmpDir("events") + "/status"
    val statePath = tmpDir("state") + "/last"
    StatusStream.processBatch(spark, SnapshotJson.read(spark, snapA), eventsPath, statePath)
    assert(StatusStream.processBatch(spark, SnapshotJson.read(spark, snapB),
      eventsPath, statePath) > 0)
    def logFiles() = new java.io.File(eventsPath).list().toSeq.sorted
    val (log, state) = (logFiles(), rowKeys(spark.read.parquet(statePath)))
    assert(StatusStream.processBatch(spark, SnapshotJson.read(spark, dir),
      eventsPath, statePath) === 0)
    assert(logFiles() === log)
    assert(rowKeys(spark.read.parquet(statePath)) === state)
  }

  test("reading and flattening a snapshot reads its bytes at most twice") {
    val size = Files.size(Paths.get(snapA))
    val read = jobStats {
      SnapshotJson.positions(SnapshotJson.read(spark, snapA)).collect()
      ()
    }._2
    assert(read > 0 && read <= 2 * size, s"read $read B of a $size-byte snapshot")
  }

  test("runOnce parses only the latest two files of a longer landing dir") {
    val dir = tmpDir("landing")
    // the newest file's name needs URI-decoding and glob-escaping to be
    // read back from its `_file` value
    val names = Seq("bike_rides_1.json", "bike_rides_2.json",
      "bike_rides_3.json", "bike_rides_[4] x.json")
    names.zipWithIndex.foreach { case (name, i) =>
      Files.write(Paths.get(dir, name), snapshotJson(i + 1,
        s"2025-08-21T15:1${i + 1}:02+02:00").getBytes(StandardCharsets.UTF_8))
    }
    val latest = SnapshotJson.latestFiles(spark, dir, 2)
    assert(latest.map(_.split('/').last) === Seq("bike_rides_3.json",
      "bike_rides_%5B4%5D%20x.json"))
    val read = SnapshotJson.readFiles(spark, latest)
    assert(read.inputFiles.length === 2)
    assert(read.select("_file").collect().map(_.getString(0)).sorted === latest.sorted)
    val expected = SnapshotDiff.events(positionsOf(s"$dir/${names(2)}"),
      positionsOf(s"$dir/${names(3).replace("[", "\\[").replace("]", "\\]")}"),
      "2025-08-21T15:14:02+02:00")
    val eventsPath = tmpDir("events") + "/status"
    // Bytes read from files: Spark's input metrics would also count the
    // positions cache's block reads.
    def fileBytes = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
    val before = fileBytes
    val n = StatusStream.runOnce(spark, dir, eventsPath)
    val bytes = fileBytes - before
    val sizes = names.map(f => Files.size(Paths.get(dir, f)))
    // every file once to find the latest two, then those two once into
    // the cache both sides of the diff read
    assert(bytes <= sizes.sum + sizes.takeRight(2).sum,
      s"runOnce read $bytes B of a ${sizes.sum}-byte landing dir")
    assert(n > 0 && n === expected.count())
    assert(rowKeys(spark.read.parquet(eventsPath)) === rowKeys(expected))
  }
}
