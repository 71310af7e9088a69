package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming model-quality monitor: maintain a RUNNING confusion-count
  * state over a stream of scored predictions, so every agreement
  * metric in [[graft.ext.Eval]] is readable at any moment without
  * rescanning history.
  *
  * Why counts: the confusion matrix is the sufficient statistic for
  * kappa / weighted kappa / MCC / P/R/F1, it is ≤ |classes|² rows no
  * matter how many predictions have streamed past, and it merges by
  * ADDITION — the same semilattice-merge property the sketch shelf
  * (KMV, Bloom, quantile) builds on. Each micro-batch folds to its own
  * tiny count delta and merges into the state parquet.
  *
  * Idempotent replay: foreachBatch can re-deliver a batch after a
  * restart; the state carries the highest merged `batch_id` and a
  * replayed batch (id ≤ stored max) is a no-op — the K2
  * idempotent-append discipline applied to counts. State swap goes
  * through write-tmp-then-rename (the K6 backup-before-mutate
  * pattern shared with [[StatusStream]]).
  */
object StreamEval {

  /** Start the monitor over a streaming frame of (label, pred) rows. */
  def start(preds: DataFrame, labelCol: String, predCol: String,
      statePath: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"))
      : StreamingQuery = {
    val spark = preds.sparkSession
    preds.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        mergeBatch(spark, batch, labelCol, predCol, statePath, id)
        ()
      }
      .start()
  }

  /** One micro-batch: fold to (label, pred, n) and add into the state.
    * Returns the number of rows merged (0 on an idempotent replay or
    * an empty batch — merging nothing is a no-op, so empty batches
    * never write a state generation whose `max(batch_id)` would be
    * NULL over zero rows). */
  def mergeBatch(spark: SparkSession, batch: DataFrame, labelCol: String,
      predCol: String, statePath: String, batchId: Long): Long =
    mergeState(spark, batch, statePath, batchId,
      keys = Seq("label", "pred"), sums = Seq("n" -> (sum(_)))) { b =>
      b.select(col(labelCol).cast("int").as("label"),
          col(predCol).cast("int").as("pred"))
        .groupBy(col("label"), col("pred"))
        .agg(count(lit(1)).as("n"))
    }

  /** The ONE monitor-merge skeleton every `merge*Batch` delegates to:
    * the null-safe idempotent-replay gate, the empty-batch no-op, the
    * unionByName-regroup merge and the crash-safe tmp-then-replace
    * swap exist once — a fix to the replay or swap protocol cannot
    * silently miss a monitor. Each monitor supplies only its
    * per-batch `delta` fold (producing exactly keys ++ sum columns)
    * and how each sum column merges (addition for counts; addition
    * re-cast for the DECIMAL carriers).
    *
    * @return rows merged (0 on an idempotent replay or empty batch)
    */
  private def mergeState(spark: SparkSession, batch: DataFrame,
      statePath: String, batchId: Long, keys: Seq[String],
      sums: Seq[(String, Column => Column)])(
      delta: DataFrame => DataFrame): Long = {
    val prev: Option[DataFrame] = readState(spark, statePath)
    // r19: the replay gate's max(batch_id) is memoized in-process
    // against the state's current directory listing — every merge
    // previously paid a footer-read JOB just to learn the watermark it
    // had itself published one merge earlier. The memo is written only
    // after OUR replace() and validated against the listing (parquet
    // part names are unique per write, so ANY other writer — crash
    // recovery, an external process, a test — changes the key and the
    // gate falls back to reading the state, exactly as before). The
    // single-writer contract makes the memo exact; the listing check
    // makes even a violated contract safe.
    val lkey = stateListingKey(spark, statePath)
    val maxSeen = lkey.flatMap(k => Option(maxSeenCache.get(statePath))
        .collect { case (kk, m) if kk == k => m })
      .getOrElse {
        // null-safe: a state written by an older build could be empty
        prev.flatMap(p =>
            Option(p.agg(max(col("batch_id"))).head().get(0)))
          .map(_.asInstanceOf[Long]).getOrElse(-1L)
      }
    if (batchId <= maxSeen) return 0L
    // The batch-row count rides the merge write itself as an
    // Observation (r18 — the old standalone `batch.count()` was one
    // full extra scan of every micro-batch per merge, guide §1.4's
    // don't-pay-twice rule applied to the return value). The
    // empty-batch no-op contract is kept by checking the observed
    // count BEFORE publishing: an empty batch writes a tmp that is
    // discarded unpublished, so `max(batch_id)` still never moves on
    // empty batches (rare in practice — the replay gate above stays
    // the cheap early exit).
    val obs = org.apache.spark.sql.Observation()
    val d = delta(batch.observe(obs, count(lit(1)).as("n")))
    val stateCols = (keys ++ sums.map(_._1)).map(col)
    val mergeAggs = sums.map { case (n, f) => f(col(n)).as(n) }
    val merged = prev.map(_.select(stateCols: _*))
      .map(_.unionByName(d)).getOrElse(d)
      .groupBy(keys.map(col): _*)
      .agg(mergeAggs.head, mergeAggs.tail: _*)
      .withColumn("batch_id", lit(batchId))
    val tmp = statePath + "_tmp"
    merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    // a PROVABLY-empty batch (e.g. an empty LocalRelation) lets
    // PropagateEmptyRelation fold the CollectMetrics node away — the
    // completed execution then reports no "n" metric, which is exactly
    // the zero-rows case
    val nRows = scala.util.Try(obs.get("n").asInstanceOf[Long])
      .getOrElse(0L)
    if (nRows == 0L) {
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      return 0L
    }
    replace(spark, tmp, statePath)
    // memoize the watermark we just published, keyed to the published
    // listing (see the gate above)
    stateListingKey(spark, statePath).foreach { k =>
      if (maxSeenCache.size >= MaxSeenCacheMax) maxSeenCache.clear()
      maxSeenCache.put(statePath, (k, batchId))
      ()
    }
    nRows
  }

  /** In-JVM memo for [[mergeState]]'s replay gate: statePath →
    * (directory-listing key, highest merged batch_id). See the gate's
    * comment for the validation contract. */
  private val maxSeenCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()
  private val MaxSeenCacheMax = 64

  /** Test hook: drop the replay-gate memo. */
  private[graft] def clearMaxSeenCache(): Unit = maxSeenCache.clear()

  /** A fingerprint of the state's CURRENT on-disk identity: file names
    * + lengths + mtimes of the live directory (or `_bak` when only the
    * backup generation survives — the same precedence [[readState]]
    * applies). None when neither exists. Parquet part-file names carry
    * a per-write UUID, so any rewrite — ours or anyone else's —
    * changes this key. */
  private def stateListingKey(spark: SparkSession,
      statePath: String): Option[String] = {
    def listing(prefix: String, path: String): Option[String] = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else Some(prefix + fs.listStatus(p).map(s =>
          s.getPath.getName + ":" + s.getLen + ":" +
            s.getModificationTime)
        .sorted.mkString("|"))
    }
    listing("live:", statePath).orElse(listing("bak:", statePath + "_bak"))
  }

  // ------------------------------------------------------------------
  // Calibration / Brier monitoring: per-bin (n, correct, conf_sum,
  // se_sum) is the sufficient statistic for BOTH the reliability
  // table + ECE and the Brier score, it is ≤ bins rows forever, and
  // it merges by addition — the same semilattice contract as the
  // confusion counts above. Sums are DECIMAL(38,0) ([[graft.ext.Exact]]):
  // a running se_sum is exactly the accumulator the 64-bit bound
  // capped at ~2.3M adversarial rows, and a MONITOR is the first
  // place that bound would be crossed silently.

  /** Start a calibration/Brier monitor over a streaming frame of
    * (label, pred, conf_micro) rows. */
  def startScored(scored: DataFrame, labelCol: String, predCol: String,
      confMicroCol: String, statePath: String, checkpointDir: String,
      bins: Int = 10,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"))
      : StreamingQuery = {
    val spark = scored.sparkSession
    scored.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        mergeScoredBatch(spark, batch, labelCol, predCol, confMicroCol,
          statePath, id, bins)
        ()
      }
      .start()
  }

  /** One scored micro-batch: fold to per-bin (n, correct, conf_sum,
    * se_sum) and add into the state. Same idempotent-replay and
    * crash-safe-swap contract as [[mergeBatch]]; NULL label/pred/
    * confidence fail LOUDLY (the [[graft.ext.Eval.calibrationBins]]
    * guard — a silently skipped NULL would divide a partial sum by
    * the full count at read time). */
  def mergeScoredBatch(spark: SparkSession, batch: DataFrame,
      labelCol: String, predCol: String, confMicroCol: String,
      statePath: String, batchId: Long, bins: Int = 10): Long = {
    require(bins > 0, "need at least one bin")
    mergeState(spark, batch, statePath, batchId, keys = Seq("bin"),
      sums = Seq("n" -> (sum(_)), "correct" -> (sum(_)),
        "conf_sum" -> (c => sum(c).cast(graft.ext.Exact.Dec)),
        "se_sum" -> (c => sum(c).cast(graft.ext.Exact.Dec)))) { b =>
      // the row projection / guards / binning / squared-error term are
      // graft.ext.Eval's OWN expressions — stream ≡ batch holds because
      // the formulas exist once, not because two copies stay in lockstep
      graft.ext.Eval
        .scoredRows(b, labelCol, predCol, confMicroCol, bins,
          what = "mergeScoredBatch")
        .withColumn("se", graft.ext.Eval.seFromOkCm)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("ok")).as("correct"),
          graft.ext.Exact.decSum(col("cm")).as("conf_sum"),
          graft.ext.Exact.decSum(col("se")).as("se_sum"))
    }
  }

  /** Current per-bin scored state (bin, n, correct, conf_sum, se_sum). */
  def scoredCounts(spark: SparkSession, statePath: String): DataFrame =
    readState(spark, statePath)
      .getOrElse(throw new IllegalStateException(
        s"no monitor state at $statePath (and no backup generation)"))
      .select(col("bin"), col("n"), col("correct"), col("conf_sum"),
        col("se_sum"))
      .orderBy(col("bin"))

  /** Reliability table + ECE from the monitor state — LITERALLY
    * [[graft.ext.Eval.calibrationFromBinCounts]] over the persisted
    * per-bin counts, so stream-built ≡ batch-built to the last digit
    * by construction (StreamEvalSpec still pins it end to end). */
  def calibrationFromState(spark: SparkSession,
      statePath: String): DataFrame =
    graft.ext.Eval.calibrationFromBinCounts(
      scoredCounts(spark, statePath)
        .select(col("bin"), col("n"), col("correct"), col("conf_sum")))

  /** Brier read-out from the monitor state — identical integers to
    * [[graft.ext.Eval.brierMicro2]] over the full streamed history
    * (Σ per-bin se_sum IS the corpus se sum; binning loses nothing
    * for a sum). */
  def brierFromState(spark: SparkSession, statePath: String): DataFrame =
    scoredCounts(spark, statePath)
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"),
        coalesce(sum(col("correct")), lit(0L)).as("correct"),
        sum(col("se_sum")).cast(graft.ext.Exact.Dec).as("sum_dec"))
      .select(col("n"), col("correct"),
        graft.ext.Exact.asLongOrFail(col("sum_dec"),
          "brierFromState: sum_micro2").as("sum_micro2"),
        expr("CASE WHEN n > 0 THEN sum_dec div n ELSE 0L END")
          .as("brier_micro2"))

  // ------------------------------------------------------------------
  // Distribution-drift monitoring: per-(group, bin) counts are the
  // sufficient statistic for the leave-one-group-out JSD drift
  // read-out (Drift.jsDivergenceFromCounts) — ≤ |groups|·|bins| rows
  // forever, merged by addition, the same semilattice contract as the
  // confusion and calibration states above.

  /** Start a drift monitor over a streaming frame of already-binned
    * (group, bin) rows — e.g. quality-score deciles tagged by source. */
  def startBinned(binned: DataFrame, groupCol: String, binCol: String,
      statePath: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"))
      : StreamingQuery = {
    val spark = binned.sparkSession
    binned.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        mergeBinnedBatch(spark, batch, groupCol, binCol, statePath, id)
        ()
      }
      .start()
  }

  /** One binned micro-batch: fold to (group, bin, n) and add into the
    * state. Same idempotent-replay and crash-safe-swap contract as
    * [[mergeBatch]]; the projection (group kept as-is, bin cast int)
    * is the SAME one [[graft.ext.Drift.jsDivergenceBinned]] applies,
    * so the stream ≡ batch contract starts at the fold. */
  def mergeBinnedBatch(spark: SparkSession, batch: DataFrame,
      groupCol: String, binCol: String, statePath: String,
      batchId: Long): Long =
    mergeState(spark, batch, statePath, batchId,
      keys = Seq("group", "bin"), sums = Seq("n" -> (sum(_)))) { b =>
      b.select(col(groupCol).as("group"),
          col(binCol).cast("int").as("bin"))
        .groupBy(col("group"), col("bin"))
        .agg(count(lit(1)).as("n"))
    }

  /** Current drift-state cells (group, bin, n). */
  def binnedCounts(spark: SparkSession, statePath: String): DataFrame =
    readState(spark, statePath)
      .getOrElse(throw new IllegalStateException(
        s"no monitor state at $statePath (and no backup generation)"))
      .select(col("group"), col("bin"), col("n"))
      .orderBy(col("group"), col("bin"))

  /** Leave-one-group-out JSD drift from the monitor state — LITERALLY
    * [[graft.ext.Drift.jsDivergenceFromCounts]] over the persisted
    * cells, so stream-built ≡ batch-built to the last nano digit by
    * construction (StreamEvalSpec pins it end to end).
    *
    * @param outGroupCol name for the group column in the read-out
    *        (match the batch query's column for digit-for-digit
    *        comparisons) */
  def jsDriftFromState(spark: SparkSession, statePath: String,
      outGroupCol: String = "group"): DataFrame =
    graft.ext.Drift.jsDivergenceFromCounts(
      binnedCounts(spark, statePath), "group", "bin", "n", outGroupCol)

  /** Exact binned two-sample KS drift from the SAME monitor state —
    * literally [[graft.ext.Drift.ksFromCounts]] over the persisted
    * cells, the delegation contract of [[jsDriftFromState]]: one
    * binned state feeds all three drift read-outs. */
  def ksDriftFromState(spark: SparkSession, statePath: String,
      outGroupCol: String = "group"): DataFrame =
    graft.ext.Drift.ksFromCounts(
      binnedCounts(spark, statePath), "group", "bin", "n", outGroupCol)

  /** Laplace-smoothed PSI drift from the SAME monitor state —
    * literally [[graft.ext.Drift.psiFromCounts]] over the persisted
    * cells. */
  def psiFromState(spark: SparkSession, statePath: String,
      outGroupCol: String = "group"): DataFrame =
    graft.ext.Drift.psiFromCounts(
      binnedCounts(spark, statePath), "group", "bin", "n", outGroupCol)

  /** Chi-square homogeneity (+ Cramér's V) across the monitored
    * groups, from the SAME binned state — the one-number "are the
    * sources' bin distributions even compatible" significance test
    * beside the per-group drift read-outs; literally
    * [[graft.ext.Stats.chiSquareFromCounts]] over the persisted
    * cells. */
  def chiSquareFromState(spark: SparkSession, statePath: String)
      : DataFrame =
    graft.ext.Stats.chiSquareFromCounts(
      binnedCounts(spark, statePath), "bin", "group", "n")

  // ------------------------------------------------------------------
  // Two-sample distribution monitoring on RAW values: per-(group,
  // value) counts are the sufficient statistic for the EXACT
  // two-sample family (KS / Cramér–von Mises / Wasserstein-1 — no
  // binning loss, unlike the binned drift trio above), bounded by the
  // distinct-value count forever, merged by addition — the same
  // semilattice contract as every state in this file.

  /** Start a two-sample value monitor over a streaming frame of
    * (value, group ∈ {0,1}) rows — e.g. doc lengths tagged
    * baseline/candidate. */
  def startValues(rows: DataFrame, valueCol: String, grpCol: String,
      statePath: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"))
      : StreamingQuery = {
    val spark = rows.sparkSession
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        mergeValueBatch(spark, batch, valueCol, grpCol, statePath, id)
        ()
      }
      .start()
  }

  /** One value micro-batch: fold to (v, g, n) and add into the state.
    * Same idempotent-replay and crash-safe-swap contract as
    * [[mergeBatch]]. The projection (value cast long, the loud 0/1
    * group guard) is LITERALLY [[graft.ext.Stats]]' two-sample
    * projection, so stream ≡ batch starts at the fold — a NULL or
    * out-of-domain group label fails the batch rather than silently
    * landing in either sample. */
  def mergeValueBatch(spark: SparkSession, batch: DataFrame,
      valueCol: String, grpCol: String, statePath: String,
      batchId: Long): Long =
    mergeState(spark, batch, statePath, batchId,
      keys = Seq("v", "g"), sums = Seq("n" -> (sum(_)))) { b =>
      b.select(col(valueCol).cast("long").as("v"),
          graft.ext.Stats.groupBit(col(grpCol), "mergeValueBatch")
            .as("g"))
        .groupBy(col("v"), col("g"))
        .agg(count(lit(1)).as("n"))
    }

  /** Current two-sample value cells (v, g, n). */
  def valueCounts(spark: SparkSession, statePath: String): DataFrame =
    readState(spark, statePath)
      .getOrElse(throw new IllegalStateException(
        s"no monitor state at $statePath (and no backup generation)"))
      .select(col("v"), col("g"), col("n"))
      .orderBy(col("v"), col("g"))

  /** Exact two-sample KS from the monitor state — LITERALLY
    * [[graft.ext.Stats.ksTwoSampleFromCounts]] over the persisted
    * cells, so stream-built ≡ batch-built to the last digit by
    * construction (StreamEvalSpec pins it with out-of-order + replay
    * delivery). */
  def ksTwoSampleFromState(spark: SparkSession, statePath: String)
      : DataFrame =
    graft.ext.Stats.ksTwoSampleFromCounts(
      valueCounts(spark, statePath), "v", "g", "n")

  /** Exact Cramér–von Mises from the SAME monitor state — the
    * [[ksTwoSampleFromState]] delegation contract: one value state
    * feeds the whole two-sample family. */
  def cvmTwoSampleFromState(spark: SparkSession, statePath: String)
      : DataFrame =
    graft.ext.Stats.cvmTwoSampleFromCounts(
      valueCounts(spark, statePath), "v", "g", "n")

  /** Exact Wasserstein-1 from the SAME monitor state. */
  def wasserstein1FromState(spark: SparkSession, statePath: String)
      : DataFrame =
    graft.ext.Stats.wasserstein1FromCounts(
      valueCounts(spark, statePath), "v", "g", "n")

  /** Mann–Whitney U + Cliff's δ + tie-corrected z from the SAME
    * monitor state — the rank test needs nothing beyond the
    * per-(group, value) counts (the double rank is a pure function of
    * the histogram's prefix sums), so the one value state feeds the
    * effect-size read-out too. */
  def mannWhitneyZFromState(spark: SparkSession, statePath: String)
      : DataFrame =
    graft.ext.Stats.mannWhitneyZFromCounts(
      valueCounts(spark, statePath), "v", "g", "n")

  /** Kruskal–Wallis H across the monitored groups from the SAME
    * binned state (bins as the ordinal value — the rank test is
    * binning-compatible because ties get average ranks): "does ANY
    * source's distribution sit above the others", the k-group
    * significance companion to [[chiSquareFromState]]'s
    * any-difference test; literally
    * [[graft.ext.Stats.kruskalWallisFromCounts]] over the persisted
    * cells. */
  def kruskalWallisFromState(spark: SparkSession, statePath: String)
      : DataFrame =
    graft.ext.Stats.kruskalWallisFromCounts(
      binnedCounts(spark, statePath), "bin", "group", "n")

  // ------------------------------------------------------------------
  // Period-volume monitoring: per-day event counts are the sufficient
  // statistic for the WHOLE sequential-detector shelf (CUSUM, Pettitt,
  // Page–Hinkley drawup, median/MAD outliers), bounded by the day
  // count forever, merged by addition — late or replayed events land
  // in their own day's cell, so the series is correct regardless of
  // arrival order.

  /** Start a period-volume monitor over a streaming frame of
    * timestamped rows. */
  def startPeriods(rows: DataFrame, tsCol: String, statePath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"))
      : StreamingQuery = {
    val spark = rows.sparkSession
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        mergePeriodBatch(spark, batch, tsCol, statePath, id)
        ()
      }
      .start()
  }

  /** One micro-batch: fold to (day, n) and add into the state — the
    * [[mergeState]] contract (idempotent replay, crash-safe swap).
    * The projection (`to_date` of the timestamp) is the same one the
    * batch day-series queries apply. */
  def mergePeriodBatch(spark: SparkSession, batch: DataFrame,
      tsCol: String, statePath: String, batchId: Long): Long =
    mergeState(spark, batch, statePath, batchId,
      keys = Seq("day"), sums = Seq("n" -> (sum(_)))) { b =>
      b.select(to_date(col(tsCol)).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("n"))
    }

  /** Current period counts (day, n) — the day series every
    * sequential detector reads. */
  def periodCounts(spark: SparkSession, statePath: String): DataFrame =
    readState(spark, statePath)
      .getOrElse(throw new IllegalStateException(
        s"no monitor state at $statePath (and no backup generation)"))
      .select(col("day"), col("n"))
      .orderBy(col("day"))

  /** CUSUM change point from the monitor state — LITERALLY
    * [[graft.ext.Stats.cusumChangePoint]] over the persisted day
    * series, so stream ≡ batch by the delegation contract shared by
    * every read-out in this file. */
  def cusumFromState(spark: SparkSession, statePath: String): DataFrame =
    graft.ext.Stats.cusumChangePoint(
      periodCounts(spark, statePath), "day", "n")

  /** Pettitt change-point test from the SAME state. */
  def pettittFromState(spark: SparkSession, statePath: String)
      : DataFrame =
    graft.ext.Stats.pettittChangePoint(
      periodCounts(spark, statePath), "day", "n")

  /** Page–Hinkley drawup from the SAME state. */
  def pageHinkleyFromState(spark: SparkSession, statePath: String)
      : DataFrame =
    graft.ext.Stats.pageHinkleyDrawup(
      periodCounts(spark, statePath), "day", "n")

  /** Median/MAD outlier-day read-out from the SAME state. */
  def madOutliersFromState(spark: SparkSession, statePath: String,
      factor: Long = 5L): DataFrame =
    graft.ext.Stats.madOutliers(
      periodCounts(spark, statePath), "day", "n", factor)

  // ------------------------------------------------------------------
  // Winnowing-fingerprint novelty monitoring: the set of corpus
  // fingerprints is the sufficient statistic for "has this content been
  // seen" — the winnowing guarantee says any shared token run of
  // ≥ k+w−1 tokens shares a selected fingerprint. Arriving batches are
  // decontaminated against it with one keyed join; history is never
  // rescanned (the [[graft.ext.TextDedup.novelAgainst]] precedent,
  // persisted).
  //
  // Unlike the bounded states above (confusion ≤ classes², calibration
  // ≤ bins, drift cells, day counts) this state grows with the corpus,
  // so it is NOT a [[mergeState]] state: a full rewrite per merge costs
  // O(|state|) per batch (measured with Stress `fpstate`, local[32],
  // 2M generated docs in 8 batches, k = 6: a rewrite layout's time per
  // batch grew 8.4 → 36.3 s with the state while this layout stayed
  // flat at 6.7–10 s). Each batch's NEWLY-SEEN fingerprints land under
  // their own `batch_id=N` subdirectory instead:
  //  - write cost is O(new fingerprints), never O(state);
  //  - the probe is one exact anti-join of the batch against the live
  //    generations; Catalyst picks broadcast or shuffle for it from the
  //    size statistics;
  //  - replay idempotency comes from the LAYOUT: a batch directory
  //    only comes into existence by RENAME of a fully-written temp
  //    (no torn generation is ever visible), so re-delivery of batch N
  //    sees its directory and no-ops;
  //  - one micro-batch per minute is ~526k generation directories a
  //    year — [[compactFingerprintGenerations]] bounds that: it merges
  //    generations ≤ upTo into ONE consolidated generation carrying an
  //    in-directory compaction marker, and the replay gate treats any
  //    batchId ≤ marker as already merged, so compaction never
  //    re-opens the no-op contract.
  // The state holds presence only, no document frequency: novelty
  // needs presence only.
  //
  // Single-writer contract (what foreachBatch guarantees): merges and
  // compactions are serialized with each other and with read-outs.
  // Every entry point first repairs a compaction that crashed between
  // its two renames ([[recoverFingerprintState]]), so no caller ever
  // observes the one non-atomic window.

  /** Marker FILE inside a generation directory: its presence means
    * "this generation contains every fingerprint of the ORIGINAL
    * generations ≤ its own batch_id". Rides inside the directory so
    * one rename publishes content and watermark atomically;
    * `_`-prefixed, so parquet readers never see it. */
  private val FpCompactMarker = "_compacted_through"

  private type HPath = org.apache.hadoop.fs.Path

  private def fsOf(spark: SparkSession, p: HPath) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (watermark, live generations ascending by id). Watermark W = the
    * highest generation carrying [[FpCompactMarker]] (−1 if none); the
    * live set is every generation with id ≥ W — anything below W is a
    * stale leftover of a compaction whose sweep did not finish, pruned
    * HERE (by the read rule) rather than trusted to deletion, so a
    * failed delete can never duplicate fingerprints. */
  private def fpGenerations(spark: SparkSession, statePath: String)
      : (Long, Seq[(Long, HPath)]) = {
    val root = new HPath(statePath)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return (-1L, Nil)
    val gens = allGenerations(fs, root)
    val wm = gens.filter { case (_, p) =>
      fs.exists(new HPath(p, FpCompactMarker))
    }.map(_._1).lastOption.getOrElse(-1L)
    (wm, gens.filter(_._1 >= wm))
  }

  /** Every `batch_id=` generation under `root`, live or stale,
    * ascending by id. */
  private def allGenerations(fs: org.apache.hadoop.fs.FileSystem,
      root: HPath): Seq[(Long, HPath)] =
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map(s => (s.getPath.getName.stripPrefix("batch_id=").toLong, s.getPath))
      .sortBy(_._1).toSeq

  /** Repair a [[compactFingerprintGenerations]] run that crashed in
    * its two-rename swap window. The swap order is: write tmp (parquet,
    * marker LAST) → rename gen(upTo) aside → rename tmp into place →
    * delete aside. So on entry exactly one of these holds, each with
    * one safe move:
    *  - tmp + gen both present: crash before the first rename — the
    *    state is untouched; delete the tmp.
    *  - gen absent, tmp carries the marker: crash between the renames —
    *    the tmp is COMPLETE (the marker is written after everything
    *    else); roll FORWARD by publishing it.
    *  - aside present with its generation also present: crash after
    *    publish, before cleanup; delete the aside.
    * Called by every entry point (merge, compact, read), so the
    * non-atomic window lasts exactly until the next touch. */
  private def recoverFingerprintState(spark: SparkSession,
      statePath: String): Unit = {
    val root = new HPath(statePath)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return
    val entries = fs.listStatus(root).map(_.getPath)
    entries.filter(_.getName.startsWith("_tmp_compact_")).foreach { tmp =>
      val id = tmp.getName.stripPrefix("_tmp_compact_")
      val gen = new HPath(root, s"batch_id=$id")
      if (fs.exists(gen)) fs.delete(tmp, true)
      else if (fs.exists(new HPath(tmp, FpCompactMarker)))
        require(fs.rename(tmp, gen),
          s"recoverFingerprintState: roll-forward $tmp -> $gen failed")
      else fs.delete(tmp, true) // torn write; aside restore below
    }
    entries.filter(_.getName.startsWith("_aside_gen_")).foreach { aside =>
      val id = aside.getName.stripPrefix("_aside_gen_")
      val gen = new HPath(root, s"batch_id=$id")
      if (fs.exists(gen)) fs.delete(aside, true)
      else require(fs.rename(aside, gen),
        s"recoverFingerprintState: restoring $aside -> $gen failed")
    }
  }

  /** Start a fingerprint monitor over a streaming frame of (id, text)
    * document rows — the production wiring of the whole layout:
    * O(new)-write generations ([[appendFingerprintBatch]]) and PERIODIC
    * COMPACTION so directory growth is bounded at the source — every
    * `compactEvery`-th batch folds the accumulated generations into one
    * behind the watermark marker (skipped on a replayed batch whose id
    * the watermark already covers). Novelty read-outs go through
    * [[winnowNoveltyFromSet]] at any moment. */
  def startFingerprintSet(docs: DataFrame, idCol: String,
      textCol: String, statePath: String, checkpointDir: String,
      k: Int = 4, w: Int = 5, compactEvery: Long = 0L,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"))
      : StreamingQuery = {
    val spark = docs.sparkSession
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        appendFingerprintBatch(spark, batch, idCol, textCol, statePath,
          id, k, w)
        if (compactEvery > 0L && id > 0L && id % compactEvery == 0L &&
            id > fpGenerations(spark, statePath)._1)
          compactFingerprintGenerations(spark, statePath, upTo = id)
        ()
      }
      .start()
  }

  /** One document micro-batch into the layout: winnow-fingerprint it
    * ([[graft.ext.TextDedup.winnowFingerprints]] — the SAME per-row
    * zero-shuffle selection the batch queries run, so stream ≡ batch
    * starts at the fold), anti-join against the live generations, write
    * only the novel fingerprints under `batch_id=N`. Returns the number
    * of NEW fingerprints (0 on replay or when nothing is novel — an
    * all-duplicate batch still creates its (empty) generation so a
    * replay of it stays a no-op). The count comes from an
    * [[org.apache.spark.sql.Observation]] riding the write job itself
    * — no second read of the generation just to size it. */
  def appendFingerprintBatch(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, statePath: String, batchId: Long,
      k: Int = 4, w: Int = 5): Long = {
    recoverFingerprintState(spark, statePath)
    val root = new HPath(statePath)
    val fs = fsOf(spark, root)
    val gen = new HPath(root, s"batch_id=$batchId")
    val (wm, live) = fpGenerations(spark, statePath)
    if (batchId <= wm) return 0L // compacted away: still a no-op replay
    if (fs.exists(gen)) return 0L // replay: the generation is complete
    val fresh = graft.ext.TextDedup
      .winnowFingerprints(batch, idCol, textCol, k, w)
      .select(col("fingerprint")).distinct()
    val novel =
      if (live.isEmpty) fresh
      else fresh.join(fingerprintSetOf(spark, live), Seq("fingerprint"),
        "left_anti")
    writeGeneration(spark, fs, root, gen, batchId, novel)
  }

  /** Write-tmp-then-rename publish of one generation (`_`-prefixed
    * tmp is invisible to parquet readers, so a crash mid-write never
    * leaves a torn generation and the rename publishes atomically).
    * Returns the generation's row count, observed ON the write job. */
  private def writeGeneration(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: HPath, gen: HPath,
      batchId: Long, novel: DataFrame): Long = {
    val tmp = new HPath(root, s"_tmp_b$batchId")
    if (fs.exists(tmp)) fs.delete(tmp, true) // leftover from a crash
    val obs = org.apache.spark.sql.Observation(s"fp_append_b$batchId")
    graft.JobStats.labeled(spark, s"fp_append b=$batchId: generation write (+obs)")(
      novel.observe(obs, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString))
    val n = obs.get("n").asInstanceOf[Long]
    require(fs.rename(tmp, gen),
      s"appendFingerprintBatch: publishing $tmp -> $gen failed; " +
        "no generation was installed (state unchanged)")
    n
  }

  /** Merge every live generation with id ≤ `upTo` into ONE
    * consolidated generation published at `batch_id=upTo`, carrying
    * the [[FpCompactMarker]] — the bound on the layout's directory
    * count (one micro-batch a minute is ~526k generations a year
    * unbounded; compacted, the live set is one consolidated generation
    * plus the tail since the last compaction).
    *
    * Contracts preserved, by construction:
    *  - EXACTNESS: generations are disjoint (a fingerprint is stored
    *    once, in the generation that first saw it), so the
    *    consolidated set is a plain union — byte-identical
    *    [[fingerprintSet]] / novelty read-outs before and after;
    *  - REPLAY NO-OP: the marker makes the replay gate treat any
    *    batchId ≤ upTo as merged, so re-delivery of a compacted-away
    *    batch still no-ops (spec-pinned);
    *  - CRASH SAFETY: the consolidated tmp is fully written (parquet,
    *    marker LAST) before the two-rename swap, and every entry point
    *    repairs the swap window via [[recoverFingerprintState]]; stale
    *    sub-watermark generations are pruned by the READ RULE, so the
    *    final sweep's deletes are pure hygiene — a failure there
    *    changes no answer.
    *
    * @return the consolidated generation's fingerprint count */
  def compactFingerprintGenerations(spark: SparkSession,
      statePath: String, upTo: Long): Long = {
    recoverFingerprintState(spark, statePath)
    val root = new HPath(statePath)
    val fs = fsOf(spark, root)
    val (wm, live) = fpGenerations(spark, statePath)
    require(upTo > wm,
      s"compactFingerprintGenerations: upTo=$upTo is already covered " +
        s"by the watermark $wm")
    val toCompact = live.filter(_._1 <= upTo)
    require(toCompact.exists(_._1 == upTo),
      s"compactFingerprintGenerations: no generation at batch_id=$upTo " +
        "to anchor the compaction — compact up to a merged batch id")
    // contiguity: a gap below upTo would let the marker silently
    // swallow a batch that was never merged
    val expected = (math.max(wm, 0L) to upTo).toSet
    require(toCompact.map(_._1).toSet == expected,
      s"compactFingerprintGenerations: generations ${toCompact.map(_._1)}" +
        s" do not cover ${expected.toSeq.sorted} — a never-merged batch" +
        " below upTo would be marked as merged")
    val tmp = new HPath(root, s"_tmp_compact_$upTo")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val obs = org.apache.spark.sql.Observation(s"fp_compact_$upTo")
    fingerprintSetOf(spark, toCompact)
      .observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val n = obs.get("n").asInstanceOf[Long]
    // marker LAST: its presence certifies the tmp is complete (the
    // roll-forward in recoverFingerprintState keys on it)
    fs.create(new HPath(tmp, FpCompactMarker)).close()
    // two-rename swap of generation upTo (aside name is `_`-prefixed:
    // never visible to readers, never parsed as a partition value)
    val aside = new HPath(root, s"_aside_gen_$upTo")
    val genUpTo = new HPath(root, s"batch_id=$upTo")
    require(fs.rename(genUpTo, aside),
      s"compactFingerprintGenerations: setting $genUpTo aside failed; " +
        "state unchanged")
    require(fs.rename(tmp, genUpTo),
      s"compactFingerprintGenerations: publishing $tmp -> $genUpTo " +
        "failed; original generation preserved at " + aside +
        " (recoverFingerprintState restores it)")
    fs.delete(aside, true)
    // sweep EVERY generation below the new watermark: the ones just
    // compacted, and any stale one an earlier compaction left below its
    // own watermark (a crash between its renames, rolled forward by
    // recoverFingerprintState, leaves its sources unswept). Pruned by
    // the read rule either way; failures retried next round
    allGenerations(fs, root).filter(_._1 < upTo)
      .foreach { case (_, p) => fs.delete(p, true) }
    n
  }

  /** All fingerprints seen so far (distinct by construction — each is
    * stored exactly once, in the generation that first saw it;
    * compaction unions disjoint generations, preserving that). */
  def fingerprintSet(spark: SparkSession, statePath: String): DataFrame = {
    recoverFingerprintState(spark, statePath)
    val (_, live) = fpGenerations(spark, statePath)
    if (live.isEmpty) throw new IllegalStateException(
      s"no fingerprint generations at $statePath")
    fingerprintSetOf(spark, live)
  }

  private def fingerprintSetOf(spark: SparkSession,
      live: Seq[(Long, HPath)]): DataFrame =
    spark.read.parquet(live.map(_._2.toString): _*)
      .select(col("fingerprint"))

  /** Incremental decontamination read-out: fingerprint the ARRIVING
    * batch and price each document's overlap with the accumulated
    * corpus fingerprints — one keyed join against the live
    * generations, never a rescan of history. Output per batch
    * document: (idCol, n_fp, n_shared, novel) where novel = 1 iff NO
    * fingerprint is already known. Documents shorter than k+w−1 tokens
    * select no fingerprints and are absent (the winnowing guarantee
    * threshold — same drop rule as the batch operator). */
  def winnowNoveltyFromSet(spark: SparkSession, statePath: String,
      batch: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5): DataFrame = {
    val fps = graft.ext.TextDedup.winnowFingerprints(
      batch, idCol, textCol, k, w)
    val st = fingerprintSet(spark, statePath)
      .select(col("fingerprint"), lit(1L).as("__hit"))
    fps.join(st, Seq("fingerprint"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_fp"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_shared"))
      .withColumn("novel",
        when(col("n_shared") === 0L, 1L).otherwise(0L))
  }

  /** Current confusion counts (label, pred, n), ready for the
    * counts-based folds in [[graft.ext.Eval]]. */
  def counts(spark: SparkSession, statePath: String): DataFrame =
    readState(spark, statePath)
      .getOrElse(throw new IllegalStateException(
        s"no monitor state at $statePath (and no backup generation)"))
      .select(col("label"), col("pred"), col("n"))
      .orderBy(col("label"), col("pred"))

  /** Read the live state, falling back to the `_bak` generation left
    * by a swap that crashed between its two renames. */
  private def readState(spark: SparkSession,
      statePath: String): Option[DataFrame] =
    if (exists(spark, statePath)) Some(spark.read.parquet(statePath))
    else if (exists(spark, statePath + "_bak"))
      Some(spark.read.parquet(statePath + "_bak"))
    else None

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Crash-safe swap: the previous generation is RENAMED ASIDE (not
    * deleted) before the new one takes its place, so a crash between
    * the two renames leaves the `_bak` generation for [[readState]] —
    * delete-then-rename would silently drop ALL accumulated counts
    * AND reset the replay guard if the process died in the gap.
    *
    * Ordering invariant: at EVERY intermediate point either the live
    * path or `_bak` holds a complete generation. A stale `_bak` is
    * therefore only deleted while the live path exists (it is
    * redundant then); in the recovery path where `_bak` is the ONLY
    * surviving copy (prior crash between the two renames), the new
    * generation is installed FIRST and `_bak` cleaned after — an
    * upfront `_bak` delete there would leave a crash window with
    * neither copy, losing all accumulated counts and the replay
    * guard. */
  private[graft] def replace(spark: SparkSession, from: String,
      to: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(from)
    val dst = new org.apache.hadoop.fs.Path(to)
    val bak = new org.apache.hadoop.fs.Path(to + "_bak")
    val fs = src.getFileSystem(conf)
    if (fs.exists(dst)) {
      // dst is complete → a leftover _bak is redundant; clear it so
      // the rename-aside below lands. The aside rename is checked
      // LOUDLY with its own message — an unchecked false here would
      // let the final error claim the generation is "preserved at
      // _bak" when _bak was just deleted (dst itself still holds it)
      if (fs.exists(bak)) fs.delete(bak, true)
      require(fs.rename(dst, bak),
        s"StreamEval.replace: renaming $to aside to ${to}_bak failed;" +
          " the live generation is still intact at its original path")
    }
    // dst absent here; if _bak was the only surviving generation it is
    // STILL intact — a crash (or a failed rename, checked LOUDLY)
    // before dst lands loses nothing
    require(fs.rename(src, dst),
      s"StreamEval.replace: installing $from -> $to failed; " +
        "previous generation (if any) preserved at _bak")
    if (fs.exists(bak)) fs.delete(bak, true)
  }
}
