package graft.status

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** J4/ST2 — keyed snapshot diff (reference:
  * src/bike_status_changes.py:106–157 `diff_snapshots`).
  *
  * The reference walks two bike_id→info dicts; relationally that is a
  * FULL OUTER join on bike_id emitting 0–2 events per key:
  *  - prev only                    → `departed` with prev's info
  *  - both, station_id changed     → `departed`(prev) + `arrived`(curr)
  *  - curr only                    → `arrived` with curr's info
  * All events carry the CURRENT snapshot's `_fetched_at` (reference :231).
  *
  * A backlog of consecutive snapshot pairs diffs in the same join: every
  * row carries the pair it belongs to (`_pair`) and the join key is
  * (`_pair`, bike_id), so one join emits the events of every pair.
  *
  * Scale: one shuffle on (`_pair`, bike_id) per batch, however many
  * pairs it holds (or none — a city fleet is a few thousand rows,
  * auto-broadcast); the declarative form parallelizes to any fleet size.
  */
object SnapshotDiff {

  private val infoCols = Seq("station_name", "station_id", "lat", "lon",
    "bike_type", "battery")

  /** @param prev positions of the older snapshot (bike_id + info cols)
    * @param curr positions of the newer snapshot
    * @param timestamp the newer snapshot's `_fetched_at`
    * @return StatusEvent-shaped DataFrame */
  def events(prev: DataFrame, curr: DataFrame, timestamp: String): DataFrame =
    pairEvents(prev.withColumn("_pair", lit(1)), curr.withColumn("_pair", lit(1)),
      Map(1 -> timestamp))

  /** The diff of many snapshot pairs in one full outer join.
    *
    * @param prev older-side positions (bike_id + info cols + `_pair`)
    * @param curr newer-side positions (bike_id + info cols + `_pair`)
    * @param timestamps `_pair` → the `_fetched_at` of that pair's newer
    *        snapshot; every pair present in `prev` or `curr` needs one
    * @return StatusEvent-shaped DataFrame: for each pair, the events
    *         `events(prev of that pair, curr of that pair, its timestamp)`
    *         would emit */
  def pairEvents(prev: DataFrame, curr: DataFrame,
      timestamps: Map[Int, String]): DataFrame = {
    def keyed(df: DataFrame, p: String) = df.select(
      col("_pair").as(s"${p}__pair") +: col("bike_id").as(s"${p}_bike_id") +:
        infoCols.map(c => col(c).as(s"${p}_$c")): _*)
    val joined = keyed(prev, "p").join(keyed(curr, "c"),
      col("p__pair") === col("c__pair") && col("p_bike_id") === col("c_bike_id"),
      "full_outer")

    def evt(kind: String, side: String) = struct(
      lit(kind).as("event_type") +:
        col(s"${side}_bike_id").as("bike_id") +:
        infoCols.map(c => col(s"${side}_$c").as(c)): _*)

    val moved = col("p_bike_id").isNotNull && col("c_bike_id").isNotNull &&
      !(col("p_station_id") <=> col("c_station_id"))

    val eventsArray = array(
      when(col("c_bike_id").isNull, evt("departed", "p"))
        .when(moved, evt("departed", "p")),
      when(col("p_bike_id").isNull, evt("arrived", "c"))
        .when(moved, evt("arrived", "c"))
    )

    joined
      .select(
        element_at(typedLit(timestamps), coalesce(col("p__pair"), col("c__pair")))
          .as("timestamp"),
        explode(filter(eventsArray, e => e.isNotNull)).as("e"))
      .select(
        col("timestamp"),
        col("e.bike_id").as("bike_id"),
        col("e.event_type").as("event_type"),
        col("e.station_name").as("station_name"),
        col("e.station_id").as("station_id"),
        col("e.lat").as("lat"),
        col("e.lon").as("lon"),
        col("e.bike_type").as("bike_type"),
        col("e.battery").as("battery")
      )
  }
}
