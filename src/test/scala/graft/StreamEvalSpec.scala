package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamEval

/** Streaming model-quality monitor: confusion counts as mergeable
  * state — batch-order independence, idempotent replay, and the
  * counts-fold reading EXACTLY what the row-level fold reads on the
  * same data.
  */
class StreamEvalSpec extends SparkSpec {

  test("mergeBatch: counts add across batches; replayed batch is a no-op") {
    import spark.implicits._
    val state = tmpDir("seval") + "/state"
    val b1 = Seq((0, 0), (0, 1), (1, 1)).toDF("label", "pred")
    val b2 = Seq((0, 0), (1, 0), (1, 1), (1, 1)).toDF("label", "pred")
    assert(StreamEval.mergeBatch(spark, b1, "label", "pred", state, 0L) === 3L)
    assert(StreamEval.mergeBatch(spark, b2, "label", "pred", state, 1L) === 4L)
    // replay of batch 1 after a simulated restart: state unchanged
    assert(StreamEval.mergeBatch(spark, b2, "label", "pred", state, 1L) === 0L)
    val counts = StreamEval.counts(spark, state).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(counts === Map((0, 0) -> 2L, (0, 1) -> 1L,
      (1, 0) -> 1L, (1, 1) -> 3L))
    // the counts fold reads exactly what the row fold reads
    val all = b1.unionByName(b2)
    val fromRows = graft.ext.Eval.cohenKappaPpm(all, "label", "pred").head()
    val fromCounts = graft.ext.Eval.cohenKappaFromCounts(
      StreamEval.counts(spark, state), "label", "pred", "n").head()
    assert(fromCounts.getAs[Long]("n") === 7L)
    Seq("n", "correct", "po_ppm", "pe_ppm", "kappa_ppm").foreach { c =>
      assert(fromCounts.getAs[Long](c) === fromRows.getAs[Long](c),
        s"counts fold diverged on $c")
    }
  }

  test("mergeBatch: empty batch is a no-op; crashed swap recovers from _bak") {
    import spark.implicits._
    val state = tmpDir("sevalempty") + "/state"
    val empty = Seq.empty[(Int, Int)].toDF("label", "pred")
    // empty FIRST batch must not write a state whose max(batch_id)
    // would be NULL over zero rows (the NPE crash-loop case)
    assert(StreamEval.mergeBatch(spark, empty, "label", "pred", state, 0L) === 0L)
    val b1 = Seq((0, 0), (1, 1)).toDF("label", "pred")
    assert(StreamEval.mergeBatch(spark, b1, "label", "pred", state, 1L) === 2L)
    assert(StreamEval.mergeBatch(spark, empty, "label", "pred", state, 2L) === 0L)
    assert(StreamEval.counts(spark, state).count() === 2L)
    // simulate a swap that died between its two renames: live state
    // gone, _bak generation present → reads and merges keep working
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(state).getFileSystem(conf)
    fs.rename(new org.apache.hadoop.fs.Path(state),
      new org.apache.hadoop.fs.Path(state + "_bak"))
    assert(StreamEval.counts(spark, state).count() === 2L)
    // replay of batch 1 against the recovered generation: still a no-op
    assert(StreamEval.mergeBatch(spark, b1, "label", "pred", state, 1L) === 0L)
    // a new batch merges on top of the recovered counts
    assert(StreamEval.mergeBatch(spark, b1, "label", "pred", state, 3L) === 2L)
    val total = StreamEval.counts(spark, state)
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(total === 4L)
  }

  test("replace ordering: recovery path installs dst before touching " +
    "the only surviving _bak; failed install preserves it") {
    import spark.implicits._
    val state = tmpDir("sevalswap") + "/state"
    val conf = spark.sparkContext.hadoopConfiguration
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = p(state).getFileSystem(conf)
    // recovery posture: _bak is the ONLY copy (prior crash between renames)
    Seq((0, 0, 5L)).toDF("label", "pred", "n").withColumn("batch_id",
      org.apache.spark.sql.functions.lit(0L))
      .write.parquet(state + "_bak")
    // a failed install (src missing — the crash-before-rename window)
    // must fail LOUDLY and leave _bak intact; the old upfront delete
    // dropped it here, losing every accumulated count
    intercept[Exception] {
      StreamEval.replace(spark, state + "_tmp_missing", state)
    }
    assert(fs.exists(p(state + "_bak")),
      "_bak (the only surviving generation) must not be touched before dst lands")
    assert(StreamEval.counts(spark, state).count() === 1L)
    // a successful install from the same posture lands dst and cleans _bak
    Seq((0, 0, 7L)).toDF("label", "pred", "n").withColumn("batch_id",
      org.apache.spark.sql.functions.lit(1L))
      .write.parquet(state + "_tmp")
    StreamEval.replace(spark, state + "_tmp", state)
    assert(fs.exists(p(state)) && !fs.exists(p(state + "_bak")))
    assert(StreamEval.counts(spark, state).head().getLong(2) === 7L)
  }

  test("scored monitor: stream-built ECE/Brier == batch-built to the " +
    "last digit, with replayed batches a no-op") {
    import spark.implicits._
    val state = tmpDir("sevalscored") + "/state"
    def mkBatch(seed: Int, n: Int) =
      (0 until n).map { i =>
        val label = (i + seed) % 3
        val pred = if ((i + seed) % 7 == 0) (label + 1) % 3 else label
        val conf = 350000L + ((i * 37 + seed * 101) % 650) * 1000L
        (label, pred, conf)
      }.toDF("label", "pred", "conf_micro")
    val b1 = mkBatch(1, 40)
    val b2 = mkBatch(2, 55)
    val b3 = mkBatch(5, 23)
    assert(StreamEval.mergeScoredBatch(spark, b1, "label", "pred",
      "conf_micro", state, 0L) === 40L)
    assert(StreamEval.mergeScoredBatch(spark, b2, "label", "pred",
      "conf_micro", state, 1L) === 55L)
    // replay after a simulated restart: no-op
    assert(StreamEval.mergeScoredBatch(spark, b2, "label", "pred",
      "conf_micro", state, 1L) === 0L)
    assert(StreamEval.mergeScoredBatch(spark, b3, "label", "pred",
      "conf_micro", state, 2L) === 23L)
    val all = b1.unionByName(b2).unionByName(b3)
    // calibration: every column of every row identical
    val want = graft.ext.Eval.calibrationBins(all, "label", "pred",
      "conf_micro").collect().map(_.toSeq).toSeq
    val got = StreamEval.calibrationFromState(spark, state)
      .collect().map(_.toSeq).toSeq
    assert(got === want)
    // Brier: identical read-out
    val wantB = graft.ext.Eval.brierMicro2(all, "label", "pred",
      "conf_micro").head()
    val gotB = StreamEval.brierFromState(spark, state).head()
    Seq("n", "correct", "sum_micro2", "brier_micro2").foreach { c =>
      assert(gotB.getAs[Long](c) === wantB.getAs[Long](c),
        s"stream Brier diverged on $c")
    }
    // NULL confidence in a batch fails loudly, state untouched
    val holey = Seq((Some(1), Some(1), None: Option[Long]))
      .toDF("label", "pred", "conf_micro")
    val e = intercept[Exception] {
      StreamEval.mergeScoredBatch(spark, holey, "label", "pred",
        "conf_micro", state, 3L)
    }
    assert(e.getMessage.contains("mergeScoredBatch: NULL"))
    assert(StreamEval.brierFromState(spark, state).head()
      .getAs[Long]("n") === 118L)
  }

  test("drift monitor: stream-built leave-one-out JSD == batch-built " +
    "to the last nano digit, out-of-order batches, replay a no-op") {
    import spark.implicits._
    val state = tmpDir("sevaldrift") + "/state"
    // three sources with DIFFERENT decile shapes (c occupies bins no
    // one else touches — the near-ln2 drift case)
    def mkBatch(seed: Int, n: Int) =
      (0 until n).map { i =>
        val src = "abc"((i + seed) % 3).toString
        val bin = src match {
          case "a" => (i * 7 + seed) % 6           // bins 0..5
          case "b" => 2 + (i * 5 + seed) % 6       // bins 2..7
          case _ => 8 + (i + seed) % 2             // bins 8..9 only
        }
        (src, bin)
      }.toDF("source", "bin")
    val b1 = mkBatch(1, 50)
    val b2 = mkBatch(4, 35)
    val b3 = mkBatch(9, 28)
    // out-of-order delivery relative to construction order
    assert(StreamEval.mergeBinnedBatch(spark, b2, "source", "bin",
      state, 0L) === 35L)
    assert(StreamEval.mergeBinnedBatch(spark, b3, "source", "bin",
      state, 1L) === 28L)
    // replay after a simulated restart: no-op
    assert(StreamEval.mergeBinnedBatch(spark, b3, "source", "bin",
      state, 1L) === 0L)
    assert(StreamEval.mergeBinnedBatch(spark, b1, "source", "bin",
      state, 2L) === 50L)
    val all = b2.unionByName(b3).unionByName(b1)
    val want = graft.ext.Drift.jsDivergenceBinned(all, "source", "bin")
      .collect().map(_.toSeq).toSeq
    val got = StreamEval.jsDriftFromState(spark, state, "source")
      .collect().map(_.toSeq).toSeq
    assert(got === want, s"stream drift diverged:\n$got\nvs\n$want")
    // the isolated source reads near ln 2 (693147180 nano), the
    // overlapping ones far below — the read-out ORDERS the drift
    val bySrc = StreamEval.jsDriftFromState(spark, state, "source")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(bySrc("c") > 600000000L, s"isolated source read ${bySrc("c")}")
    assert(bySrc("c") > bySrc("a") && bySrc("c") > bySrc("b"))
    // the SAME binned state feeds the KS and PSI read-outs — stream ≡
    // batch by the identical delegation contract (one counts fold)
    val wantKs = graft.ext.Drift.ksBinned(all, "source", "bin")
      .collect().map(_.toSeq).toSeq
    val gotKs = StreamEval.ksDriftFromState(spark, state, "source")
      .collect().map(_.toSeq).toSeq
    assert(gotKs === wantKs, s"stream KS diverged:\n$gotKs\nvs\n$wantKs")
    val wantPsi = graft.ext.Drift.psiBinned(all, "source", "bin")
      .collect().map(_.toSeq).toSeq
    val gotPsi = StreamEval.psiFromState(spark, state, "source")
      .collect().map(_.toSeq).toSeq
    assert(gotPsi === wantPsi,
      s"stream PSI diverged:\n$gotPsi\nvs\n$wantPsi")
    // the isolated source dominates all three drift orderings
    val ksBySrc = gotKs.map(r =>
      r(0).toString -> r(2).asInstanceOf[Long]).toMap
    assert(ksBySrc("c") > ksBySrc("a") && ksBySrc("c") > ksBySrc("b"))
    // the SAME state also answers the chi-square homogeneity test —
    // stream ≡ batch by the identical counts-fold delegation
    val wantChi = graft.ext.Stats.chiSquareHomogeneity(
      all, "bin", "source").collect().map(_.toSeq).toSeq
    val gotChi = StreamEval.chiSquareFromState(spark, state)
      .collect().map(_.toSeq).toSeq
    assert(gotChi === wantChi,
      s"stream chi2 diverged:\n$gotChi\nvs\n$wantChi")
    // ... and the k-group rank test, from the same cells
    val wantKw = graft.ext.Stats.kruskalWallis(all, "bin", "source")
      .collect().map(_.toSeq).toSeq
    val gotKw = StreamEval.kruskalWallisFromState(spark, state)
      .collect().map(_.toSeq).toSeq
    assert(gotKw === wantKw,
      s"stream KW diverged:\n$gotKw\nvs\n$wantKw")
  }

  test("two-sample value monitor: stream-built KS/CvM/W1 == " +
    "batch-built to the last digit, out-of-order batches, replay a " +
    "no-op, NULL group loud") {
    import spark.implicits._
    val state = tmpDir("sevaltwos") + "/state"
    // group 1 shifted +3 vs group 0, heavy ties — exercises the
    // tie-aware CDF and the W1 gap weighting
    def mkBatch(seed: Int, n: Int) =
      (0 until n).map { i =>
        val g = (i + seed) % 2
        val v = (i * 7 + seed) % 10 + (if (g == 1) 3L else 0L)
        (v, g)
      }.toDF("v", "g")
    val b1 = mkBatch(1, 60)
    val b2 = mkBatch(5, 41)
    val b3 = mkBatch(8, 33)
    // out-of-order delivery relative to construction order
    assert(StreamEval.mergeValueBatch(spark, b2, "v", "g",
      state, 0L) === 41L)
    assert(StreamEval.mergeValueBatch(spark, b3, "v", "g",
      state, 1L) === 33L)
    // replay after a simulated restart: no-op
    assert(StreamEval.mergeValueBatch(spark, b3, "v", "g",
      state, 1L) === 0L)
    assert(StreamEval.mergeValueBatch(spark, b1, "v", "g",
      state, 2L) === 60L)
    val all = b2.unionByName(b3).unionByName(b1)
    for ((name, fromState, batchOp) <- Seq(
      ("ks", StreamEval.ksTwoSampleFromState(spark, state),
        graft.ext.Stats.ksTwoSample(all, "v", "g")),
      ("cvm", StreamEval.cvmTwoSampleFromState(spark, state),
        graft.ext.Stats.cvmTwoSample(all, "v", "g")),
      ("w1", StreamEval.wasserstein1FromState(spark, state),
        graft.ext.Stats.wasserstein1(all, "v", "g")),
      ("mwu", StreamEval.mannWhitneyZFromState(spark, state),
        graft.ext.Stats.mannWhitneyZ(all, "v", "g")))) {
      val got = fromState.collect().map(_.toSeq).toSeq
      val want = batchOp.collect().map(_.toSeq).toSeq
      assert(got === want, s"stream $name diverged:\n$got\nvs\n$want")
    }
    // the shifted fixture actually drifts — the read-out is non-zero
    assert(StreamEval.ksTwoSampleFromState(spark, state)
      .head().getAs[Long]("ks_ppm") > 100000L)
    // a NULL group label fails the merge loudly, and the state is
    // untouched by the failed batch
    val before = StreamEval.valueCounts(spark, state)
      .collect().map(_.toSeq).toSeq
    val bad = Seq((1L, Some(0)), (2L, None))
      .toDF("v", "g")
    val e = intercept[Exception](
      StreamEval.mergeValueBatch(spark, bad, "v", "g", state, 3L))
    assert(e.getMessage.contains("mergeValueBatch"))
    assert(StreamEval.valueCounts(spark, state)
      .collect().map(_.toSeq).toSeq === before)
  }

  test("end-to-end stream: file source -> monitor state via AvailableNow") {
    import spark.implicits._
    val landing = tmpDir("sevalland")
    val state = tmpDir("sevalst") + "/state"
    val ckpt = tmpDir("sevalckpt")
    (0 until 30).map(i => (i % 3, if (i % 10 == 9) (i + 1) % 3 else i % 3))
      .toDF("label", "pred").write.parquet(s"$landing/part1")
    val stream = spark.readStream
      .schema("label INT, pred INT")
      .parquet(s"$landing/*")
    val q = StreamEval.start(stream, "label", "pred", state, ckpt,
      Trigger.AvailableNow())
    q.awaitTermination(60000L)
    val total = StreamEval.counts(spark, state)
      .agg(sum(col("n"))).head().getLong(0)
    assert(total === 30L)
    val kappa = graft.ext.Eval.cohenKappaFromCounts(
      StreamEval.counts(spark, state), "label", "pred", "n").head()
    // 27 of 30 correct, balanced classes → well above chance
    assert(kappa.getAs[Long]("correct") === 27L)
    assert(kappa.getAs[Long]("kappa_ppm") > 800000L)
  }

  test("period monitor: every sequential detector reads stream == " +
    "batch from the day-count state, out-of-order + replay") {
    import spark.implicits._
    val state = tmpDir("sevalper") + "/state"
    // 3 batches interleaving days, with a level shift from day 20 —
    // late arrivals land in their own day's cell
    def mkBatch(seed: Int, n: Int) =
      (0 until n).map { i =>
        val d = (i * 7 + seed) % 30
        val reps = if (d >= 20) 3 else 1
        (java.sql.Timestamp.valueOf(
          f"2024-03-${d + 1}%02d 0${(i + seed) % 9}:15:00"), reps)
      }.flatMap { case (ts, r) => Seq.fill(r)(Tuple1(ts)) }
        .toDF("ts")
    val b1 = mkBatch(1, 40)
    val b2 = mkBatch(4, 33)
    val b3 = mkBatch(9, 27)
    assert(StreamEval.mergePeriodBatch(spark, b2, "ts", state, 0L) > 0L)
    assert(StreamEval.mergePeriodBatch(spark, b3, "ts", state, 1L) > 0L)
    assert(StreamEval.mergePeriodBatch(spark, b3, "ts", state, 1L)
      === 0L) // replay
    assert(StreamEval.mergePeriodBatch(spark, b1, "ts", state, 2L) > 0L)
    val all = b2.unionByName(b3).unionByName(b1)
    val daily = all.groupBy(to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n"))
    for ((name, fromState, batchOp) <- Seq(
      ("cusum", StreamEval.cusumFromState(spark, state),
        graft.ext.Stats.cusumChangePoint(daily, "day", "n")),
      ("pettitt", StreamEval.pettittFromState(spark, state),
        graft.ext.Stats.pettittChangePoint(daily, "day", "n")),
      ("ph", StreamEval.pageHinkleyFromState(spark, state),
        graft.ext.Stats.pageHinkleyDrawup(daily, "day", "n")),
      ("mad", StreamEval.madOutliersFromState(spark, state),
        graft.ext.Stats.madOutliers(daily, "day", "n")))) {
      val got = fromState.collect().map(_.toSeq).toSeq
      val want = batchOp.collect().map(_.toSeq).toSeq
      assert(got === want, s"stream $name diverged:\n$got\nvs\n$want")
    }
    // the planted level shift is detectable from the state
    val pk = StreamEval.pettittFromState(spark, state).head()
    assert(pk.getAs[Long]("k_stat") > 0L)
  }

  test("end-to-end stream: file source -> two-sample value state via " +
    "AvailableNow; read-out equals the batch operator") {
    import spark.implicits._
    val landing = tmpDir("sevalvland")
    val state = tmpDir("sevalvst") + "/state"
    val ckpt = tmpDir("sevalvckpt")
    val rows = (0 until 40).map(i =>
      ((i % 10) + (if (i % 2 == 1) 4L else 0L), i % 2))
    rows.toDF("v", "g").write.parquet(s"$landing/part1")
    val stream = spark.readStream
      .schema("v BIGINT, g INT")
      .parquet(s"$landing/*")
    val q = StreamEval.startValues(stream, "v", "g", state, ckpt,
      Trigger.AvailableNow())
    q.awaitTermination(60000L)
    val got = StreamEval.ksTwoSampleFromState(spark, state)
      .head().toSeq
    val want = graft.ext.Stats.ksTwoSample(
      rows.toDF("v", "g"), "v", "g").head().toSeq
    assert(got === want, s"e2e stream KS diverged: $got vs $want")
  }

  test("fingerprint monitor: stream-merged state == batch fold " +
    "(out-of-order + replay); novelty read-out == direct comparison " +
    "against the full corpus, without rescanning history") {
    import spark.implicits._
    val state = tmpDir("sevalfpa") + "/state"
    // corpus docs: 3 families of repeated token runs + unique tails so
    // winnowing has real shared fingerprints; >= k+w-1 = 8 tokens each
    val corpus = ((0L until 12L).map(i => fpDoc(i, (i % 3).toInt, s"c$i")))
      .toDF("doc_id", "text")
    val Seq(b1, b2, b3) = Seq(0, 1, 2).map(k =>
      corpus.filter($"doc_id" % 3 === k))
    // out-of-order batch content, one replay — the set must equal the
    // one-shot batch fold regardless; replay is detected from the
    // published generation directory itself
    assert(StreamEval.appendFingerprintBatch(spark, b2, "doc_id", "text",
      state, 0L) > 0L)
    val n1 = StreamEval.appendFingerprintBatch(spark, b1, "doc_id", "text",
      state, 1L)
    assert(n1 >= 0L)
    assert(StreamEval.appendFingerprintBatch(spark, b1, "doc_id", "text",
      state, 1L) === 0L, "replay must no-op off the published generation")
    assert(StreamEval.appendFingerprintBatch(spark, b3, "doc_id", "text",
      state, 2L) > 0L)
    val fromBatch = graft.ext.TextDedup
      .winnowFingerprints(corpus, "doc_id", "text")
      .select($"fingerprint").distinct()
      .orderBy("fingerprint").collect().map(_.getString(0)).toSeq
    val setFps = StreamEval.fingerprintSet(spark, state)
      .orderBy("fingerprint").collect().map(_.getString(0)).toSeq
    assert(setFps === fromBatch,
      "fingerprint set != batch fold's distinct fingerprints")

    // novelty: one doc repeating corpus family 0 (must overlap), one
    // genuinely novel doc (all-new vocabulary)
    val arriving = Seq(
      fpDoc(100L, 0, "c0"), // same family-0 run as corpus doc 0
      (101L, "zz yy xx ww vv uu tt ss rr qq pp oo nn")).toDF("doc_id", "text")
    val nov = StreamEval.winnowNoveltyFromSet(spark, state, arriving,
      "doc_id", "text").orderBy("doc_id").collect()
    val byId = nov.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(byId(100L)._2 > 0L && byId(100L)._3 === 0L,
      s"repeat doc must share fingerprints: ${byId(100L)}")
    assert(byId(101L)._2 === 0L && byId(101L)._3 === 1L,
      s"novel doc must share none: ${byId(101L)}")
    // read-out == the direct join against the full corpus fingerprints
    assert(nov.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      === directNovelty(corpus, arriving),
      "state-fed novelty != direct corpus comparison")
    // generations are per-batch directories; merging never rewrote them
    assert(listGens(state) === Seq("batch_id=0", "batch_id=1", "batch_id=2"))
  }

  // ---- compaction, crash recovery, end-to-end wrappers ---------------

  private def fpDoc(id: Long, family: Int, tail: String) =
    (id, s"alpha beta gamma delta f$family f$family epsilon zeta " +
      s"eta theta $tail run$id end")

  private def listGens(state: String) = {
    val p = new org.apache.hadoop.fs.Path(state)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty[String]
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(!_.startsWith("_")).sorted.toSeq
  }

  /** (doc_id, n_fp, n_shared) of `arriving` by a direct join against
    * every fingerprint of `corpus` — what a state read-out must equal. */
  private def directNovelty(corpus: org.apache.spark.sql.DataFrame,
      arriving: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] = {
    val corpusFps = graft.ext.TextDedup
      .winnowFingerprints(corpus, "doc_id", "text")
      .select(col("fingerprint")).distinct()
    graft.ext.TextDedup
      .winnowFingerprints(arriving, "doc_id", "text")
      .join(corpusFps.withColumn("__hit", lit(1L)), Seq("fingerprint"),
        "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_shared"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
  }

  test("compactFingerprintGenerations: read-outs byte-identical pre/" +
    "post; replay of a compacted-away batch no-ops off the marker; " +
    "directory count collapses; guards raise") {
    import spark.implicits._
    val state = tmpDir("sevalcmp") + "/state"
    val corpus = (0L until 12L).map(i => fpDoc(i, (i % 3).toInt, s"c$i"))
      .toDF("doc_id", "text")
    val Seq(b0, b1, b2) = Seq(0, 1, 2).map(k =>
      corpus.filter($"doc_id" % 3 === k))
    val arriving = Seq(fpDoc(100L, 0, "c0"),
      (101L, "zz yy xx ww vv uu tt ss rr qq pp oo nn")).toDF("doc_id", "text")
    def novelty() = StreamEval.winnowNoveltyFromSet(spark, state,
      arriving, "doc_id", "text").orderBy("doc_id").collect()
      .map(_.toSeq).toSeq

    StreamEval.appendFingerprintBatch(spark, b0, "doc_id", "text", state, 0L)
    StreamEval.appendFingerprintBatch(spark, b1, "doc_id", "text", state, 1L)
    val before = novelty()
    val setBefore = StreamEval.fingerprintSet(spark, state)
      .orderBy("fingerprint").collect().map(_.getString(0)).toSeq

    // compacting past the highest merged batch must refuse (a marker
    // there would silently swallow never-merged batch 2)
    val eAnchor = intercept[IllegalArgumentException](
      StreamEval.compactFingerprintGenerations(spark, state, upTo = 2L))
    assert(eAnchor.getMessage.contains("anchor"))

    val n = StreamEval.compactFingerprintGenerations(spark, state, upTo = 1L)
    assert(n === setBefore.size.toLong,
      "consolidated count != distinct fingerprints")
    assert(listGens(state) === Seq("batch_id=1"),
      "compaction must leave ONE consolidated generation")
    assert(novelty() === before, "novelty read-out moved across compaction")
    assert(StreamEval.fingerprintSet(spark, state)
      .orderBy("fingerprint").collect().map(_.getString(0)).toSeq
      === setBefore, "fingerprint set moved across compaction")

    // replay of batch 0: its directory is GONE — only the watermark
    // marker can (and must) make this a no-op
    assert(StreamEval.appendFingerprintBatch(spark, b0, "doc_id", "text",
      state, 0L) === 0L, "compacted-away replay must no-op off the marker")
    assert(StreamEval.appendFingerprintBatch(spark, b1, "doc_id", "text",
      state, 1L) === 0L)

    // merging continues on top; a SECOND compaction advances the
    // watermark and the answers still never move
    StreamEval.appendFingerprintBatch(spark, b2, "doc_id", "text", state, 2L)
    val withB2 = novelty()
    val eCovered = intercept[IllegalArgumentException](
      StreamEval.compactFingerprintGenerations(spark, state, upTo = 1L))
    assert(eCovered.getMessage.contains("watermark"))
    StreamEval.compactFingerprintGenerations(spark, state, upTo = 2L)
    assert(listGens(state) === Seq("batch_id=2"))
    assert(novelty() === withB2)
    assert(StreamEval.appendFingerprintBatch(spark, b2, "doc_id", "text",
      state, 2L) === 0L)
    // the full merged corpus equals the one-shot batch fold
    val want = graft.ext.TextDedup
      .winnowFingerprints(corpus, "doc_id", "text")
      .select($"fingerprint").distinct()
      .orderBy("fingerprint").collect().map(_.getString(0)).toSeq
    assert(StreamEval.fingerprintSet(spark, state)
      .orderBy("fingerprint").collect().map(_.getString(0)).toSeq === want)
  }

  test("fingerprint state crash postures: a compaction or generation " +
    "write cut at any step reads as the no-crash state, replays no-op, " +
    "and the next append leaves no _tmp_ or _aside_ entry") {
    import spark.implicits._
    val corpus = (0L until 12L).map(i => fpDoc(i, (i % 3).toInt, s"c$i"))
      .toDF("doc_id", "text")
    val Seq(b0, b1, b2) = Seq(0, 1, 2).map(k =>
      corpus.filter($"doc_id" % 3 === k))
    val arriving = Seq(fpDoc(100L, 0, "c0"),
      (101L, "zz yy xx ww vv uu tt ss rr qq pp oo nn")).toDF("doc_id", "text")
    val conf = spark.sparkContext.hadoopConfiguration
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def append(st: String, b: org.apache.spark.sql.DataFrame, id: Long) =
      StreamEval.appendFingerprintBatch(spark, b, "doc_id", "text", st, id)
    def readOut(st: String) = (
      StreamEval.fingerprintSet(spark, st)
        .orderBy("fingerprint").collect().map(_.getString(0)).toSeq,
      StreamEval.winnowNoveltyFromSet(spark, st, arriving, "doc_id", "text")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq)
    def twoGens(tag: String): String = {
      val st = tmpDir(tag) + "/state"
      append(st, b0, 0L); append(st, b1, 1L)
      st
    }

    // the no-crash run: batches 0 and 1, then batch 2
    val ref = twoGens("sevalcrref")
    val want01 = readOut(ref)
    append(ref, b2, 2L)
    val want012 = readOut(ref)
    // a completed compaction through 1: the source of the consolidated
    // generation (parquet + marker) the postures below are built from
    val done = twoGens("sevalcrdone")
    StreamEval.compactFingerprintGenerations(spark, done, upTo = 1L)
    val fs = p(done).getFileSystem(conf)
    def consolidatedTo(dst: String) =
      assert(org.apache.hadoop.fs.FileUtil.copy(fs, p(s"$done/batch_id=1"),
        fs, p(dst), false, conf))

    val postures: Seq[(String, String => Unit)] = Seq(
      // crash before compaction's first rename
      "(a) _tmp_compact_1 beside a live batch_id=1" -> { st =>
        consolidatedTo(s"$st/_tmp_compact_1") },
      // crash between the renames: generation 1 aside, tmp complete
      "(b) batch_id=0, _aside_gen_1 and a marked _tmp_compact_1" -> { st =>
        assert(fs.rename(p(s"$st/batch_id=1"), p(s"$st/_aside_gen_1")))
        consolidatedTo(s"$st/_tmp_compact_1") },
      // crash after publishing, before the aside is deleted
      "(c) _aside_gen_1 beside the published batch_id=1" -> { st =>
        assert(fs.rename(p(s"$st/batch_id=1"), p(s"$st/_aside_gen_1")))
        consolidatedTo(s"$st/batch_id=1") },
      // crash inside batch 2's generation write: a torn tmp whose rows
      // would show up in every read-out if it were ever read
      "(d) torn _tmp_b2 left by a generation write" -> { st =>
        Seq("torn").toDF("fingerprint").write.parquet(s"$st/_tmp_b2")
        fs.delete(p(s"$st/_tmp_b2/_SUCCESS"), false)
        () })

    postures.zipWithIndex.foreach { case ((name, crash), i) =>
      val st = twoGens(s"sevalcr$i")
      crash(st)
      assert(append(st, b0, 0L) === 0L && append(st, b1, 1L) === 0L,
        s"$name: a replay merged rows")
      assert(readOut(st) === want01, s"$name: read-out != no-crash run")
      assert(append(st, b2, 2L) > 0L, s"$name: next append merged nothing")
      val left = fs.listStatus(p(st)).map(_.getPath.getName)
        .filter(n => n.startsWith("_tmp_") || n.startsWith("_aside_"))
      assert(left.isEmpty, s"$name: left ${left.mkString(", ")}")
      assert(readOut(st) === want012, s"$name: read-out after the next " +
        "append != no-crash run")
    }

    // posture (b) rolled forward leaves its source generation 0 below
    // the watermark 1; the next compaction must sweep it with the rest
    val st = twoGens("sevalcrsweep")
    postures(1)._2(st)
    append(st, b2, 2L)
    append(st, arriving, 3L)
    val before = readOut(st)
    StreamEval.compactFingerprintGenerations(spark, st, upTo = 3L)
    assert(listGens(st) === Seq("batch_id=3"),
      "a generation below the old watermark survived the compaction")
    assert(readOut(st) === before, "compaction changed the read-out")
  }

  test("appendFingerprintBatch returns counts without re-reading the " +
    "generation (observation on the write job); mixed bloom/plain " +
    "generations fall back to the exact-only probe") {
    import spark.implicits._
    val state = tmpDir("sevalobs") + "/state"
    val corpus = (0L until 12L).map(i => fpDoc(i, (i % 3).toInt, s"c$i"))
      .toDF("doc_id", "text")
    val b0 = corpus.filter($"doc_id" % 3 === 0)
    val b1 = corpus.filter($"doc_id" % 3 === 1)
    val n0 = StreamEval.appendFingerprintBatch(spark, b0, "doc_id", "text",
      state, 0L)
    assert(n0 === spark.read.parquet(s"$state/batch_id=0").count(),
      "observed count != generation row count")
    // generation 0 gets a Bloom sidecar as an earlier version of the
    // layout wrote it (a `_`-prefixed (bucket, word_idx, word) frame
    // inside the generation), generation 1 none: the sidecar is never
    // read, so counts, the probe and compaction stay exact
    Seq((0, 0, -1L)).toDF("bucket", "word_idx", "word")
      .write.parquet(s"$state/batch_id=0/_bloom_b65536_h5")
    val n1 = StreamEval.appendFingerprintBatch(spark, b1, "doc_id", "text",
      state, 1L)
    assert(n1 === spark.read.parquet(s"$state/batch_id=1").count())
    val b01 = b0.unionByName(b1)
    val want = graft.ext.TextDedup.winnowFingerprints(b01, "doc_id", "text")
      .select($"fingerprint").distinct()
      .orderBy("fingerprint").collect().map(_.getString(0)).toSeq
    def set() = StreamEval.fingerprintSet(spark, state)
      .orderBy("fingerprint").collect().map(_.getString(0)).toSeq
    assert(n0 + n1 === want.size.toLong && set() === want)
    val arriving = Seq(fpDoc(100L, 0, "c0"),
      (101L, "zz yy xx ww vv uu tt ss rr qq pp oo nn")).toDF("doc_id", "text")
    def novelty() = StreamEval.winnowNoveltyFromSet(spark, state, arriving,
      "doc_id", "text").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(novelty() === directNovelty(b01, arriving))
    // an all-duplicate batch still creates its (empty) generation
    assert(StreamEval.appendFingerprintBatch(spark, b0, "doc_id", "text",
      state, 2L) === 0L)
    assert(listGens(state).contains("batch_id=2"))
    assert(StreamEval.appendFingerprintBatch(spark, b0, "doc_id", "text",
      state, 2L) === 0L) // and replays off it
    assert(set() === want && novelty() === directNovelty(b01, arriving))
    assert(StreamEval.compactFingerprintGenerations(spark, state, upTo = 2L)
      === want.size.toLong)
    assert(set() === want && novelty() === directNovelty(b01, arriving))
  }

  test("end-to-end stream: file source -> period state via AvailableNow;" +
    " read-out equals the batch operator") {
    import spark.implicits._
    val landing = tmpDir("sevalpland")
    val state = tmpDir("sevalpst") + "/state"
    val ckpt = tmpDir("sevalpckpt")
    val rows = (0 until 60).map { i =>
      val reps = if (i % 30 >= 20) 3 else 1
      (java.sql.Timestamp.valueOf(f"2024-03-${i % 30 + 1}%02d 08:15:00"),
        reps)
    }.flatMap { case (ts, r) => Seq.fill(r)(Tuple1(ts)) }
    rows.toDF("ts").write.parquet(s"$landing/part1")
    val stream = spark.readStream.schema("ts TIMESTAMP")
      .parquet(s"$landing/*")
    val q = StreamEval.startPeriods(stream, "ts", state, ckpt,
      Trigger.AvailableNow())
    q.awaitTermination(60000L)
    val daily = rows.toDF("ts")
      .groupBy(to_date($"ts").as("day")).agg(count(lit(1)).as("n"))
    assert(StreamEval.pettittFromState(spark, state).head().toSeq ===
      graft.ext.Stats.pettittChangePoint(daily, "day", "n").head().toSeq)
    assert(StreamEval.cusumFromState(spark, state).head().toSeq ===
      graft.ext.Stats.cusumChangePoint(daily, "day", "n").head().toSeq)
  }

  test("end-to-end stream: append-layout fingerprint monitor via " +
    "AvailableNow with periodic compaction; novelty read-out equals " +
    "the plain-append comparison") {
    import spark.implicits._
    val landing = tmpDir("sevalaland")
    val state = tmpDir("sevalast") + "/state"
    val ckpt = tmpDir("sevalackpt")
    val corpus = (0L until 12L).map(i => fpDoc(i, (i % 3).toInt, s"c$i"))
    // three files -> AvailableNow still delivers as micro-batches of
    // the whole backlog; write them before starting so every row lands
    corpus.grouped(4).zipWithIndex.foreach { case (g, i) =>
      g.toDF("doc_id", "text").write.parquet(s"$landing/part$i")
    }
    val stream = spark.readStream.schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 1) // 3 files -> 3 real micro-batches
      .parquet(s"$landing/*")
    val q = StreamEval.startFingerprintSet(stream, "doc_id", "text",
      state, ckpt, compactEvery = 1L, trigger = Trigger.AvailableNow())
    q.awaitTermination(60000L)
    val arriving = Seq(fpDoc(100L, 0, "c0"),
      (101L, "zz yy xx ww vv uu tt ss rr qq pp oo nn")).toDF("doc_id", "text")
    val got = StreamEval.winnowNoveltyFromSet(spark, state, arriving,
        "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    // reference: the same corpus through one plain append
    val ref = tmpDir("sevalaref") + "/state"
    StreamEval.appendFingerprintBatch(spark,
      corpus.toDF("doc_id", "text"), "doc_id", "text", ref, 0L)
    val want = StreamEval.winnowNoveltyFromSet(spark, ref, arriving,
      "doc_id", "text").orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(got === want, "e2e append-layout stream diverged")
    // the wrapper's periodic compaction actually ran: three
    // micro-batches collapsed to ONE live generation, and the
    // generations stayed disjoint (counts match WITHOUT distinct)
    assert(listGens(state).size === 1,
      s"expected one compacted generation, got ${listGens(state)}")
    assert(StreamEval.fingerprintSet(spark, state).count()
      === StreamEval.fingerprintSet(spark, ref).count())
  }

  test("end-to-end stream: file source -> fingerprint monitor via " +
    "AvailableNow; novelty read-out equals the direct comparison") {
    import spark.implicits._
    val landing = tmpDir("sevalfland")
    val state = tmpDir("sevalfst") + "/state"
    val ckpt = tmpDir("sevalfckpt")
    val corpus = (0L until 12L).map(i => fpDoc(i, (i % 3).toInt, s"c$i"))
      .toDF("doc_id", "text")
    corpus.write.parquet(s"$landing/part1")
    val stream = spark.readStream.schema("doc_id BIGINT, text STRING")
      .parquet(s"$landing/*")
    val q = StreamEval.startFingerprintSet(stream, "doc_id", "text",
      state, ckpt, trigger = Trigger.AvailableNow())
    q.awaitTermination(60000L)
    val arriving = Seq(fpDoc(100L, 0, "c0"),
      (101L, "zz yy xx ww vv uu tt ss rr qq pp oo nn")).toDF("doc_id", "text")
    val got = StreamEval.winnowNoveltyFromSet(spark, state, arriving,
      "doc_id", "text").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === directNovelty(corpus, arriving),
      "e2e fingerprint stream diverged from direct")
  }
}
