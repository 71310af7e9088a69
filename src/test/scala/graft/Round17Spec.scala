package graft

import org.apache.spark.sql.functions._

import graft.ext.{Exact, Stats}
import graft.queries.Tables

/** Round-17 regressions — the r16 ADVICE findings made loud/safe.
  *
  * 1. `Exact.divFloorSql` now ENFORCES its num ≥ 0 / den > 0 contract
  *    in the emitted SQL (raise_error) instead of documenting it: a
  *    sign-indefinite caller used to get a silently-wrong
  *    truncate-toward-zero "floor" — the exact failure class the
  *    helper was built to eliminate.
  * 2. spearmanRho raises on NULL x/y (the shelf's groupBit/chi² NULL
  *    discipline) instead of silently shrinking n through the
  *    marginal joins.
  * 3. The Extended28 driver-side memos key on (path, table file
  *    fingerprint), so rewriting data under a reused path misses the
  *    memo instead of serving stale results.
  * 4. `dailySeries` survives `spark.sql.datetime.java8API.enabled`
  *    (the day is collected as a string, never via getDate) and
  *    bounds the collect before materializing.
  */
class Round17Spec extends SparkSpec {

  import spark.implicits._

  // ------------------------------------------------------------------
  test("divFloorSql: positive contract unchanged; negative numerator " +
      "and non-positive denominator raise instead of mis-flooring") {
    val ok = Seq((17L, 5L), (0L, 3L), (999999999L, 7L))
      .toDF("a", "b")
      .selectExpr(Exact.divFloorSql(
        s"CAST(a AS ${Exact.Dec})", s"CAST(b AS ${Exact.Dec})") + " AS q")
      .collect().map(_.getDecimal(0).longValueExact())
    assert(ok.toSeq == Seq(3L, 0L, 142857142L))

    val negNum = intercept[Exception] {
      Seq((-7L, 2L)).toDF("a", "b")
        .selectExpr(Exact.divFloorSql(
          s"CAST(a AS ${Exact.Dec})", s"CAST(b AS ${Exact.Dec})") + " AS q")
        .collect()
    }
    assert(negNum.getMessage.contains("negative numerator"))

    val zeroDen = intercept[Exception] {
      Seq((7L, 0L)).toDF("a", "b")
        .selectExpr(Exact.divFloorSql(
          s"CAST(a AS ${Exact.Dec})", s"CAST(b AS ${Exact.Dec})") + " AS q")
        .collect()
    }
    assert(zeroDen.getMessage.contains("non-positive denominator"))
  }

  // ------------------------------------------------------------------
  test("spearmanRho: NULL in either axis raises loudly (no silent " +
      "n-shrink through the marginal joins)") {
    val withNull = Seq((Some(1L), Some(2L)), (None, Some(3L)))
      .toDF("x", "y")
    val e = intercept[Exception] {
      Stats.spearmanRho(withNull, "x", "y").collect()
    }
    assert(e.getMessage.contains("NULL in 'x'"))

    val clean = Seq((1L, 2L), (2L, 4L), (3L, 6L)).toDF("x", "y")
    val r = Stats.spearmanRho(clean, "x", "y").head()
    assert(r.getAs[Long]("n") == 3L)
    assert(r.getAs[Long]("spearman_ppm") == 1000000L)
  }

  // ------------------------------------------------------------------
  test("Tables.fingerprint changes when a table is rewritten under the " +
      "same path (memo-staleness key)") {
    val dir = tmpDir("fp")
    Seq((1L, "a")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val fp1 = Tables.fingerprint(spark, dir, "events")
    assert(fp1 == Tables.fingerprint(spark, dir, "events"),
      "fingerprint must be stable for unchanged data")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(fp1 != Tables.fingerprint(spark, dir, "events"),
      "rewrite under a reused path must change the fingerprint")
  }

  // ------------------------------------------------------------------
  test("dailySeries is java8API-safe and memo-refreshes after a rewrite " +
      "under the same path") {
    def writeEvents(dir: String, days: Seq[(String, Int)]): Unit = {
      val rows = days.flatMap { case (d, n) =>
        (0 until n).map(i => (s"$d 0${i % 10}:00:00", i.toLong))
      }
      rows.toDF("ts_s", "event_id")
        .select(to_timestamp($"ts_s").as("ts"), $"event_id")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }
    val dir = tmpDir("daily")
    writeEvents(dir, Seq(("2024-01-01", 3), ("2024-01-02", 5)))

    val saved = spark.conf.getOption("spark.sql.datetime.java8API.enabled")
    spark.conf.set("spark.sql.datetime.java8API.enabled", "true")
    try {
      val got = graft.queries.Extended28.dailySeries(spark, dir)
        .orderBy("day")
        .collect().map(r => (r.get(0).toString, r.getLong(1))).toSeq
      assert(got == Seq(("2024-01-01", 3L), ("2024-01-02", 5L)))
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.datetime.java8API.enabled", v)
      case None => spark.conf.unset("spark.sql.datetime.java8API.enabled")
    }

    // Rewrite under the SAME path: the (path, fingerprint) memo key
    // must miss and the series must reflect the new data.
    writeEvents(dir, Seq(("2024-02-01", 7)))
    val after = graft.queries.Extended28.dailySeries(spark, dir)
      .orderBy("day")
      .collect().map(r => (r.get(0).toString, r.getLong(1))).toSeq
    assert(after == Seq(("2024-02-01", 7L)))
  }

  // ------------------------------------------------------------------
  test("sequential detectors: guard runs as ONE agg job (count + " +
      "countDistinct fused), errors stay loud") {
    val series = (1 to 40).map(i =>
      (i.toLong, if (i <= 20) 10L else 30L)).toDF("t", "x")

    // The guard is ONE action (count + countDistinct in one agg); the
    // old shape was two (count, then distinct().count). Under AQE one
    // action can still span several scheduler jobs, so the pin is
    // RELATIVE: the fused guard must cost strictly fewer jobs than
    // the two-action shape it replaced, on the same checkpointed base.
    val base = series.select($"t", $"x").localCheckpoint()
    val oldShapeJobs = jobStats {
      base.count(); base.select($"t").distinct().count()
    }._1
    val guardJobs = jobStats {
      assert(Stats.guardedPeriods(base, "spec", 1000000L) == 40L)
    }._1
    assert(guardJobs < oldShapeJobs,
      s"guardedPeriods ran $guardJobs jobs vs $oldShapeJobs for the " +
        "separate count + distinct().count shape — the fused guard " +
        "must be strictly cheaper")

    // detectors still read out correctly through the fused guard
    assert(Stats.pettittChangePoint(series, "t", "x").collect()
      .head.getAs[Long]("change_t") == 20L)
    assert(Stats.pageHinkleyDrawup(series, "t", "x").collect()
      .head.getAs[Long]("n_periods") == 40L)

    // the loud errors are unchanged
    val dup = Seq((1L, 1L), (1L, 2L)).toDF("t", "x")
    val e = intercept[Exception] {
      Stats.pettittChangePoint(dup, "t", "x").collect()
    }
    assert(e.getMessage.contains("distinct periods"))
    val big = intercept[Exception] {
      Stats.pageHinkleyDrawup(series, "t", "x", maxPeriods = 3).collect()
    }
    assert(big.getMessage.contains("maxPeriods"))
  }
}
