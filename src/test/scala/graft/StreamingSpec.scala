package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ingest.SnapshotJson
import graft.streaming.{StatefulStatusStream, StatusStream}
import graft.streaming.StatefulStatusStream.Obs

/** Keyed event row for the StreamDedup tests (file scope for the
  * Encoder's TypeTag). */
case class DedupEv(ts: java.sql.Timestamp, uid: String, v: Double)

/** End-to-end Structured Streaming: real file-source stream (ST1) and the
  * flatMapGroupsWithState extension. */
class StreamingSpec extends SparkSpec {

  private val snapA = Fixtures.snapA
  private val snapB = Fixtures.snapB

  test("file-source stream end-to-end: two micro-batches of snapshots") {
    val landing = tmpDir("landing")
    val eventsPath = tmpDir("sevents") + "/log"
    val statePath = tmpDir("sstate") + "/last"
    val checkpoint = tmpDir("ckpt")

    // batch 1: snapA only → no events (first snapshot seeds state)
    Files.copy(Paths.get(snapA), Paths.get(landing, "bike_rides_a.json"))
    def runOnce(): Unit = {
      val q = StatusStream.start(spark, landing, eventsPath, statePath,
        checkpoint, Trigger.AvailableNow())
      q.awaitTermination(120000)
      ()
    }
    runOnce()
    assert(spark.read.parquet(statePath).count() > 0, "state seeded")
    assert(!Files.exists(Paths.get(eventsPath)) ||
      spark.read.parquet(eventsPath).count() === 0)

    // batch 2: snapB arrives → diff A→B events appended
    Files.copy(Paths.get(snapB), Paths.get(landing, "bike_rides_b.json"))
    runOnce()
    val events = spark.read.parquet(eventsPath)
    assert(events.filter(col("bike_id") === "590066").count() === 2)
    assert(events.filter(col("timestamp") === "2025-08-21T15:06:02+02:00").count()
      === events.count())
  }

  test("flatMapGroupsWithState emits arrive/move events with per-key state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Obs]
    val query = StatefulStatusStream.events(input.toDS())
      .writeStream.format("memory").queryName("stateful_events")
      .outputMode("append").start()

    def obs(ts: String, bike: String, station: String) =
      Obs(ts, bike, Some(station), Some(station), Some(51.1), Some(17.0),
        Some("standard"), None)

    // batch 1: two bikes appear
    input.addData(obs("t1", "b1", "S1"), obs("t1", "b2", "S2"))
    query.processAllAvailable()
    val afterB1 = spark.table("stateful_events").collect()
    assert(afterB1.length === 2)
    assert(afterB1.forall(_.getAs[String]("event_type") == "arrived"))

    // batch 2: b1 moves (departed+arrived), b2 unchanged (nothing)
    input.addData(obs("t2", "b1", "S3"), obs("t2", "b2", "S2"))
    query.processAllAvailable()
    val afterB2 = spark.table("stateful_events").collect()
    assert(afterB2.length === 4)
    val b1 = afterB2.filter(r => r.getAs[String]("bike_id") == "b1" &&
      r.getAs[String]("timestamp") == "t2").sortBy(_.getAs[String]("event_type"))
    assert(b1.map(_.getAs[String]("event_type")).toSeq === Seq("arrived", "departed"))
    assert(b1.find(_.getAs[String]("event_type") == "departed").get
      .getAs[String]("station_id") === "S1")

    // batch 3: out-of-order inside one batch — applied in ts order
    input.addData(obs("t4", "b1", "S5"), obs("t3", "b1", "S4"))
    query.processAllAvailable()
    val b1Events = spark.table("stateful_events")
      .filter($"bike_id" === "b1" && $"timestamp".isin("t3", "t4")).collect()
    assert(b1Events.length === 4, "S3→S4 and S4→S5 both emit dep+arr pairs")
    query.stop()
  }

  test("watermarked tumbling-window aggregation over an event stream") {
    import graft.model.StatusEvent
    import graft.streaming.EventWindows
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StatusEvent]
    val windowed = EventWindows.stationTraffic(
      EventWindows.withEventTs(input.toDF()), "5 minutes", "10 minutes")
    val query = windowed.writeStream.format("memory")
      .queryName("windowed_traffic").outputMode("append").start()

    def ev(ts: String, kind: String, station: String) =
      StatusEvent(ts, "b1", kind, Some(station), Some(station),
        Some(51.1), Some(17.0), Some("standard"), None)

    input.addData(
      ev("2025-08-21T15:01:00+02:00", "arrived", "S1"),
      ev("2025-08-21T15:03:00+02:00", "departed", "S1"),
      ev("2025-08-21T15:04:00+02:00", "arrived", "S2"))
    query.processAllAvailable()
    // advance event time far past the watermark so the first window closes
    input.addData(ev("2025-08-21T16:00:00+02:00", "arrived", "S1"))
    query.processAllAvailable()

    val rows = spark.table("windowed_traffic").collect()
    assert(rows.nonEmpty, "closed windows emitted in append mode")
    val s1 = rows.find(r => r.getAs[String]("station_name") == "S1").get
    assert(s1.getAs[Long]("arrivals") === 1 && s1.getAs[Long]("departures") === 1)
    val s2 = rows.find(r => r.getAs[String]("station_name") == "S2").get
    assert(s2.getAs[Long]("arrivals") === 1 && s2.getAs[Long]("departures") === 0)
    // 15:01+02:00 == 13:01 UTC -> window [13:00, 13:05) under session TZ
    assert(s1.getAs[java.sql.Timestamp]("window_start").toString
      .startsWith("2025-08-21 13:00"))
    query.stop()
  }

  test("sliding windows overlap; watermark DROPS too-late events") {
    import graft.model.StatusEvent
    import graft.streaming.EventWindows
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StatusEvent]
    val windowed = EventWindows.stationTrafficSliding(
      EventWindows.withEventTs(input.toDF()),
      "10 minutes", "5 minutes", "10 minutes")
    val query = windowed.writeStream.format("memory")
      .queryName("sliding_traffic").outputMode("append").start()

    def ev(ts: String, kind: String) =
      StatusEvent(ts, "b1", kind, Some("S1"), Some("S1"),
        Some(51.1), Some(17.0), Some("standard"), None)

    // 13:07 UTC lands in BOTH [13:00,13:10) and [13:05,13:15)
    input.addData(ev("2025-08-21T15:07:00+02:00", "arrived"))
    query.processAllAvailable()
    // advance watermark far ahead, then deliver a hopelessly late event
    input.addData(ev("2025-08-21T17:00:00+02:00", "arrived"))
    query.processAllAvailable()
    input.addData(ev("2025-08-21T15:06:00+02:00", "departed")) // < watermark
    query.processAllAvailable()
    input.addData(ev("2025-08-21T18:00:00+02:00", "arrived")) // close all
    query.processAllAvailable()

    val rows = spark.table("sliding_traffic")
      .collect().map(r => (r.getAs[java.sql.Timestamp]("window_start").toString,
        r.getAs[Long]("arrivals"), r.getAs[Long]("departures")))
    // the on-time event appears in two overlapping windows
    val onTime = rows.filter(_._1.startsWith("2025-08-21 13:"))
    assert(onTime.map(_._1.substring(0, 16)).sorted.toSeq ===
      Seq("2025-08-21 13:00", "2025-08-21 13:05"))
    // the late departure was dropped: no window counts it
    assert(rows.forall(_._3 === 0L), rows.mkString(", "))
    query.stop()
  }

  test("windowed aggregation also runs in batch mode (same definition)") {
    import graft.streaming.EventWindows
    val posA = SnapshotJson.positions(SnapshotJson.read(spark, snapA))
    val posB = SnapshotJson.positions(SnapshotJson.read(spark, snapB))
    val events = graft.status.SnapshotDiff.events(posA, posB,
      "2025-08-21T15:06:02+02:00")
    val out = EventWindows.stationTraffic(
      EventWindows.withEventTs(events), "5 minutes", "10 minutes")
    assert(out.count() > 0)
    assert(out.agg(org.apache.spark.sql.functions.sum("arrivals")).head().getLong(0) +
      out.agg(org.apache.spark.sql.functions.sum("departures")).head().getLong(0)
      === events.count())
  }

  test("stateful operator also runs on batch datasets (same code path)") {
    val posA = SnapshotJson.positions(SnapshotJson.read(spark, snapA))
    val obsDs = StatefulStatusStream.obsFrom(spark, posA)
    val events = StatefulStatusStream.events(obsDs)
    // batch mode: every bike is a first sighting → all arrived
    val n = events.count()
    assert(n === posA.count())
  }

  test("StreamDedup drops re-delivered keys within the watermark") {
    import graft.streaming.StreamDedup
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(t: String, uid: String, v: Double) =
      DedupEv(java.sql.Timestamp.valueOf(t), uid, v)

    val input = MemoryStream[DedupEv]
    val query = StreamDedup
      .dedup(input.toDF(), "ts", "10 minutes", Seq("uid"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()

    // batch 1: u1 delivered twice (in-batch dup), u2 once
    input.addData(
      ev("2024-01-01 10:00:00", "u1", 1.0),
      ev("2024-01-01 10:00:30", "u1", 2.0),
      ev("2024-01-01 10:01:00", "u2", 3.0))
    query.processAllAvailable()
    assert(spark.table("dedup_out").count() === 2, "in-batch dup dropped")

    // batch 2: u1 re-delivered within the horizon → still dropped; u3 new
    input.addData(
      ev("2024-01-01 10:02:00", "u1", 4.0),
      ev("2024-01-01 10:02:00", "u3", 5.0))
    query.processAllAvailable()
    val out = spark.table("dedup_out").as[DedupEv].collect().sortBy(_.uid)
    assert(out.map(_.uid).toSeq === Seq("u1", "u2", "u3"))
    assert(out.find(_.uid == "u1").get.v === 1.0, "first delivery wins")
    query.stop()
  }

  test("stream-stream interval join attributes clicks within the horizon") {
    import graft.streaming.StreamJoins
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)

    val purchases = MemoryStream[DedupEv]
    val clicks = MemoryStream[DedupEv]
    val joined = StreamJoins.intervalJoin(
      purchases.toDF().toDF("p_ts", "p_uid", "p_v"),
      clicks.toDF().toDF("c_ts", "c_uid", "c_v"),
      "p_uid", "c_uid", "p_ts", "c_ts", horizonSec = 3600,
      joinType = "inner")
    val query = joined.writeStream.format("memory")
      .queryName("attribution").outputMode("append").start()

    clicks.addData(DedupEv(t("2024-01-01 09:30:00"), "u1", 1.0))
    clicks.addData(DedupEv(t("2024-01-01 05:00:00"), "u2", 2.0))
    purchases.addData(DedupEv(t("2024-01-01 10:00:00"), "u1", 10.0))
    purchases.addData(DedupEv(t("2024-01-01 10:00:00"), "u2", 20.0))
    query.processAllAvailable()

    val rows = spark.table("attribution").collect()
    // u1's click is 30 min before the purchase => joined;
    // u2's click is 5h before => outside the 1h horizon
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("p_uid") === "u1")
    assert(rows.head.getAs[Double]("c_v") === 1.0)
    query.stop()
  }

  test("stream-stream interval join: same definition runs on batch") {
    import graft.streaming.StreamJoins
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val p = Seq((t("2024-01-01 10:00:00"), "u1"), (t("2024-01-01 10:00:00"), "u2"))
      .toDF("p_ts", "p_uid")
    val c = Seq((t("2024-01-01 09:30:00"), "u1"), (t("2024-01-01 05:00:00"), "u2"))
      .toDF("c_ts", "c_uid")
    val out = StreamJoins.intervalJoin(p, c, "p_uid", "c_uid",
      "p_ts", "c_ts", horizonSec = 3600)
    assert(out.count() === 2) // left outer: u2 kept with null click
    assert(out.filter($"c_uid".isNotNull).count() === 1)
  }

  test("session_window streams with a watermark (q63's definition)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[DedupEv]
    val sessions = input.toDF().toDF("ts", "uid", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy($"uid", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
    val query = sessions.writeStream.format("memory")
      .queryName("stream_sessions").outputMode("append").start()

    input.addData(
      DedupEv(t("2024-01-01 10:00:00"), "u1", 1.0),
      DedupEv(t("2024-01-01 10:10:00"), "u1", 2.0))
    query.processAllAvailable()
    // push the watermark far past the session so it closes
    input.addData(DedupEv(t("2024-01-01 12:00:00"), "u1", 3.0))
    query.processAllAvailable()

    val rows = spark.table("stream_sessions").collect()
    assert(rows.length === 1, "first session closed and emitted")
    assert(rows.head.getAs[Long]("n") === 2)
    query.stop()
  }

  test("StreamDedup batch mode = plain dropDuplicates") {
    import graft.streaming.StreamDedup
    import spark.implicits._
    val df = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "a"),
      (java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), "a"),
      (java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), "b")
    ).toDF("ts", "uid")
    assert(StreamDedup.dedup(df, "ts", "10 minutes", Seq("uid")).count() === 2)
  }

  test("stream-static enrichment join broadcasts the dim, keeps no state") {
    import graft.streaming.StreamJoins
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("u1", "gold"), ("u2", "silver")).toDF("d_uid", "tier")
    val input = MemoryStream[DedupEv]
    val enriched = StreamJoins.enrichWithStatic(
      input.toDF().toDF("ts", "uid", "v"), dim, "uid", "d_uid")
    val query = enriched.writeStream.format("memory")
      .queryName("enriched").outputMode("append").start()
    input.addData(
      DedupEv(java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "u1", 1.0),
      DedupEv(java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), "u3", 2.0))
    query.processAllAvailable()
    val rows = spark.table("enriched")
      .select($"uid", $"tier").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    // left join: unmatched stream rows survive with null dim columns
    assert(rows === Map("u1" -> Some("gold"), "u3" -> None))
    // zero state store: no watermark needed, the dim side is bounded
    assert(query.lastProgress == null ||
      query.lastProgress.stateOperators.isEmpty)
    query.stop()
  }
}
