package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.StreamEval

/** Round-17 batch (q284–q292): the streaming monitor family,
  * oracle-gated — EVERY StreamEval state type (value, period, binned,
  * fingerprint, scored, confusion) carries a CORRECTNESS row.
  *
  * The [[StreamEval]] monitors were spec-pinned (stream ≡ batch in
  * StreamEvalSpec with out-of-order + replay + crash-swap) but carried
  * no CORRECTNESS row — the r16 verdict's punch item #2. These queries
  * close that: each one deterministically folds the events table into
  * monitor STATE via the `merge*Batch` path (batch ids from a fixed
  * day-of-month bucketing, plus one deliberate REPLAY that must no-op
  * through the idempotency gate), then reads the statistic FROM THE
  * STATE parquet — while the DuckDB oracle computes the same statistic
  * directly over the raw table. A hash match proves the whole monitor
  * path (fold → merge → crash-safe swap → state → counts-based
  * read-out) equals the batch computation digit for digit, as a
  * driver-gated row rather than a ScalaTest claim.
  *
  *  - q284 exact two-sample KS from a VALUE state
  *    ([[StreamEval.mergeValueBatch]] → [[StreamEval.ksTwoSampleFromState]]):
  *    centi-floored event values, purchase-vs-rest groups;
  *  - q285 Pettitt change point from a PERIOD state
  *    ([[StreamEval.mergePeriodBatch]] → [[StreamEval.pettittFromState]]):
  *    the daily-volume regime-shift read-out — oracle IS q278's, the
  *    state path must land on the identical row;
  *  - q286 chi-square homogeneity from a BINNED state
  *    ([[StreamEval.mergeBinnedBatch]] → [[StreamEval.chiSquareFromState]]):
  *    hour-of-day distribution across event types;
  *  - q288–q290 calibration, Brier and kappa from SCORED and
  *    CONFUSION states;
  *  - q291 incremental winnow novelty from the FINGERPRINT state
  *    ([[StreamEval.appendFingerprintBatch]] →
  *    [[StreamEval.winnowNoveltyFromSet]]): arriving documents
  *    decontaminated against the accumulated corpus fingerprints with
  *    one keyed join, never a history rescan; q292 the same read-out
  *    across a compaction.
  *
  * Scale shape: each merge is one scan of its batch folded to a
  * bounded cell delta plus a state-sized regroup — the monitor cost IS
  * the stream's cost, and the read-out touches only the bounded state.
  * The state lives in a fresh temp directory per invocation so
  * repeated Bench/Verify runs never replay against a stale generation.
  */
object Extended30 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val PurchaseBit =
    "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"

  /** One run-scoped root for every monitor state, deleted by a JVM
    * shutdown hook — a Bench run exercises each monitor query ~4×
    * (warmup + steady + recheck) and the fingerprint states scale with
    * the documents corpus, so per-invocation dirs that outlive the run
    * would pile tens of parquet trees under /tmp per round (the r17
    * verdict's hygiene finding). The states must survive until the
    * lazily-returned read-out MATERIALIZES, so eager deletion inside
    * the query fn is off the table; process exit is the correct
    * lifetime. */
  private lazy val stateRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_monitor_states_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def nuke(p: java.io.File): Unit = {
        Option(p.listFiles).foreach(_.foreach(nuke))
        p.delete(); ()
      }
      nuke(root.toFile)
    }))
    root
  }

  /** Fresh state path for one query invocation (under [[stateRoot]]). */
  private def freshState(tag: String): String =
    java.nio.file.Files.createTempDirectory(stateRoot, s"${tag}_")
      .toString + "/state"

  /** Deterministic 3-way batch split on the given bucket expression
    * (day-of-month for the event monitors, doc_id for the fingerprint
    * monitor), with one replay: merge batches 0,1,2 in order, then
    * re-deliver batch 1 (id 1 ≤ max 2) — the idempotency gate must
    * make it a no-op or the state (and the oracle hash) goes wrong.
    * A NULL bucket value raises LOUDLY (the shelf's NULL discipline —
    * a row whose bucket is NULL would land in NO batch and silently
    * vanish from the monitor state while the DuckDB oracle still
    * aggregates it). */
  private[graft] def mergeBuckets(df: DataFrame, bucket: org.apache.spark.sql.Column)(
      merge: (DataFrame, Long) => Long): Unit = {
    val guarded = when(bucket.isNull,
        raise_error(lit("mergeBuckets: NULL bucket value — the row " +
          "would be silently absent from the monitor state"))
          .cast("long"))
      .otherwise(bucket.cast("long"))
    val withB = df.withColumn("__b", guarded)
    (0L to 2L).foreach { bid =>
      merge(withB.filter(col("__b") === bid).drop("__b"), bid)
    }
    val replayed = merge(withB.filter(col("__b") === 1L).drop("__b"), 1L)
    require(replayed == 0L,
      "monitor replay gate failed: re-delivered batch 1 merged rows")
  }

  // --------------------------------------------------------------------
  // q284 — exact two-sample KS (purchase vs rest event values) READ
  // FROM VALUE-MONITOR STATE. Values centi-floored to integers (floor
  // on both engines — double→long casts round in DuckDB, truncate in
  // Spark).
  def q284(s: SparkSession, dir: String): DataFrame = {
    val statePath = freshState("q284")
    val ev = t(s, dir, "events").select(
      expr("CAST(floor(value * 100) AS BIGINT)").as("v"),
      expr(PurchaseBit).as("g"),
      col("ts"))
    mergeBuckets(ev, pmod(dayofmonth(col("ts")), lit(3)))(
      (batch, bid) => StreamEval.mergeValueBatch(
        s, batch, "v", "g", statePath, bid))
    StreamEval.ksTwoSampleFromState(s, statePath)
  }

  val q284Sql: String =
    s"""WITH d AS (SELECT CAST(floor(value * 100) AS BIGINT) AS v,
       |    $PurchaseBit AS g FROM events),
       | per AS (SELECT v, CAST(sum(g) AS BIGINT) AS a,
       |         CAST(count(*) AS BIGINT) AS t FROM d GROUP BY v),
       | tot AS (SELECT CAST(sum(a) AS BIGINT) AS n1,
       |         CAST(sum(t) - sum(a) AS BIGINT) AS n2 FROM per),
       | cum AS (SELECT sum(a) OVER w AS ia, sum(t) OVER w AS it
       |         FROM per WINDOW w AS (ORDER BY v)),
       | dd AS (SELECT max(abs(CAST(ia AS HUGEINT) * n2
       |          - CAST(it - ia AS HUGEINT) * n1)) AS d_num
       |        FROM cum CROSS JOIN tot)
       |SELECT n1, n2, CAST(d_num AS BIGINT) AS d_num,
       |  CAST((d_num * 1000000) // (CAST(n1 AS HUGEINT) * n2) AS BIGINT)
       |    AS ks_ppm
       |FROM dd CROSS JOIN tot""".stripMargin

  // --------------------------------------------------------------------
  // q285 — Pettitt change point on daily event volume READ FROM
  // PERIOD-MONITOR STATE. The oracle is LITERALLY q278's: the state
  // path must reproduce the direct batch computation's row.
  def q285(s: SparkSession, dir: String): DataFrame = {
    val statePath = freshState("q285")
    val ev = t(s, dir, "events").select(col("ts"))
    mergeBuckets(ev, pmod(dayofmonth(col("ts")), lit(3)))(
      (batch, bid) => StreamEval.mergePeriodBatch(
        s, batch, "ts", statePath, bid))
    StreamEval.pettittFromState(s, statePath)
  }

  val q285Sql: String = Extended29.q278Sql

  // --------------------------------------------------------------------
  // q286 — chi-square homogeneity of the hour-of-day distribution
  // across event types, READ FROM BINNED-MONITOR STATE.
  def q286(s: SparkSession, dir: String): DataFrame = {
    val statePath = freshState("q286")
    val ev = t(s, dir, "events").select(
      col("event_type").as("grp"),
      hour(col("ts")).as("bin"),
      col("ts"))
    mergeBuckets(ev, pmod(dayofmonth(col("ts")), lit(3)))(
      (batch, bid) => StreamEval.mergeBinnedBatch(
        s, batch, "grp", "bin", statePath, bid))
    StreamEval.chiSquareFromState(s, statePath)
  }

  val q286Sql: String =
    """WITH cells AS (SELECT CAST(hour(ts) AS INT) AS bin,
      |     event_type AS grp, CAST(count(*) AS BIGINT) AS o
      |     FROM events GROUP BY 1, 2),
      | rt AS (SELECT bin, CAST(sum(o) AS BIGINT) AS r FROM cells
      |        GROUP BY bin),
      | ct AS (SELECT grp, CAST(sum(o) AS BIGINT) AS c FROM cells
      |        GROUP BY grp),
      | tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
      |     CAST(count(DISTINCT bin) AS BIGINT) AS n_bins,
      |     CAST(count(DISTINCT grp) AS BIGINT) AS n_groups FROM cells),
      | f AS (SELECT CAST(sum((CAST(o AS HUGEINT) * o * n * 1000000)
      |       // (CAST(rt.r AS HUGEINT) * ct.c)) AS HUGEINT) AS st
      |   FROM cells JOIN rt USING (bin) JOIN ct USING (grp)
      |   CROSS JOIN tot),
      | e AS (SELECT n, n_bins, n_groups,
      |     (n_bins - 1) * (n_groups - 1) AS dof,
      |     greatest(CAST(0 AS HUGEINT),
      |       st - CAST(n AS HUGEINT) * 1000000) AS chi2
      |   FROM f CROSS JOIN tot)
      |SELECT n, n_bins, n_groups, dof,
      |  CAST(chi2 AS BIGINT) AS chi2_micro,
      |  CASE WHEN dof = 0 THEN 0
      |  ELSE CAST(floor(sqrt(CAST(chi2 AS DOUBLE) / 1000000.0
      |    / (CAST(n AS DOUBLE) * least(n_bins - 1, n_groups - 1)))
      |    * 1000000.0 + 0.5) AS BIGINT) END AS cramers_v_ppm
      |FROM e""".stripMargin

  // --------------------------------------------------------------------
  // q288/q289/q290 — the remaining monitor states gated: SCORED
  // (calibration + Brier) and CONFUSION (kappa). With these, EVERY
  // StreamEval state type (value, period, binned, fingerprint, scored,
  // confusion) carries a driver-gated CORRECTNESS row. The scored
  // triple (label, pred, conf) derives deterministically from events:
  // label = user_id mod 3, pred shifts by one class on 'error' events,
  // confidence = the event value scaled to micro units (capped 10⁶).
  private def scoredEvents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      pmod(col("user_id"), lit(3)).as("label"),
      pmod(col("user_id") +
        when(col("event_type") === "error", 1L).otherwise(0L), lit(3))
        .as("pred"),
      least(expr("CAST(floor(value * 2000) AS BIGINT)"), lit(1000000L))
        .as("conf_micro"),
      col("ts"))

  private val ScoredSqlD =
    """SELECT user_id % 3 AS label,
      |    (user_id + CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |      % 3 AS pred,
      |    least(CAST(floor(value * 2000) AS BIGINT), 1000000) AS cm
      |  FROM events""".stripMargin

  def q288(s: SparkSession, dir: String): DataFrame = {
    val statePath = freshState("q288")
    mergeBuckets(scoredEvents(s, dir), pmod(dayofmonth(col("ts")), lit(3)))(
      (batch, bid) => StreamEval.mergeScoredBatch(
        s, batch, "label", "pred", "conf_micro", statePath, bid, bins = 10))
    StreamEval.calibrationFromState(s, statePath)
  }

  val q288Sql: String =
    s"""WITH d AS ($ScoredSqlD),
       | binned AS (SELECT
       |     greatest(least((cm * 10) // 1000000, 9), 0) AS bin,
       |     CASE WHEN label = pred THEN 1 ELSE 0 END AS ok, cm
       |   FROM d),
       | per AS (SELECT bin, count(*) AS n,
       |           CAST(sum(ok) AS BIGINT) AS correct,
       |           (CAST(sum(ok) AS BIGINT) * 1000000) // count(*) AS acc_ppm,
       |           CAST(sum(cm) AS BIGINT) // count(*) AS conf_ppm
       |         FROM binned GROUP BY bin),
       | gapped AS (SELECT bin, n, correct, acc_ppm, conf_ppm,
       |              abs(acc_ppm - conf_ppm) AS gap_ppm FROM per)
       |SELECT * FROM gapped
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), CAST(sum(n) AS BIGINT),
       |  CAST(sum(correct) AS BIGINT),
       |  CAST((sum(correct) * 1000000) // sum(n) AS BIGINT),
       |  CAST(sum(n * conf_ppm) // sum(n) AS BIGINT),
       |  CAST(sum(n * gap_ppm) // sum(n) AS BIGINT)
       |FROM gapped
       |ORDER BY bin""".stripMargin

  def q289(s: SparkSession, dir: String): DataFrame = {
    val statePath = freshState("q289")
    mergeBuckets(scoredEvents(s, dir), pmod(dayofmonth(col("ts")), lit(3)))(
      (batch, bid) => StreamEval.mergeScoredBatch(
        s, batch, "label", "pred", "conf_micro", statePath, bid, bins = 10))
    StreamEval.brierFromState(s, statePath)
  }

  val q289Sql: String =
    s"""WITH d AS ($ScoredSqlD),
       | se AS (SELECT CASE WHEN label = pred THEN 1 ELSE 0 END AS ok,
       |          cm FROM d)
       |SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(ok) AS BIGINT) AS correct,
       |  CAST(sum(CAST(cm - ok * 1000000 AS HUGEINT)
       |    * (cm - ok * 1000000)) AS BIGINT) AS sum_micro2,
       |  CAST(sum(CAST(cm - ok * 1000000 AS HUGEINT)
       |    * (cm - ok * 1000000)) // count(*) AS BIGINT) AS brier_micro2
       |FROM se""".stripMargin

  def q290(s: SparkSession, dir: String): DataFrame = {
    val statePath = freshState("q290")
    val ev = scoredEvents(s, dir)
    mergeBuckets(ev, pmod(dayofmonth(col("ts")), lit(3)))(
      (batch, bid) => StreamEval.mergeBatch(
        s, batch, "label", "pred", statePath, bid))
    graft.ext.Eval.cohenKappaFromCounts(
      StreamEval.counts(s, statePath), "label", "pred", "n")
  }

  val q290Sql: String =
    s"""WITH d AS ($ScoredSqlD),
       | tot AS (SELECT count(*) AS n,
       |           CAST(sum(CASE WHEN label = pred THEN 1 ELSE 0 END)
       |             AS BIGINT) AS correct
       |         FROM d),
       | marg AS (SELECT CAST(coalesce(sum(nt * np), 0) AS BIGINT) AS pesum
       |   FROM (SELECT label AS k, count(*) AS nt FROM d GROUP BY 1) a
       |   JOIN (SELECT pred AS k, count(*) AS np FROM d GROUP BY 1) b
       |     USING (k))
       |SELECT n, correct,
       |  (correct * 1000000) // n AS po_ppm,
       |  (pesum * 1000000) // (n * n) AS pe_ppm,
       |  CAST(CASE WHEN (pesum * 1000000) // (n * n) = 1000000 THEN 1000000
       |    ELSE (((correct * 1000000) // n
       |           - (pesum * 1000000) // (n * n)) * 1000000)
       |      // (1000000 - (pesum * 1000000) // (n * n))
       |  END AS BIGINT) AS kappa_ppm
       |FROM tot CROSS JOIN marg""".stripMargin

  // --------------------------------------------------------------------
  // q291 — incremental winnow-novelty READ FROM FINGERPRINT-MONITOR
  // STATE: the corpus (doc_id % 10 ≠ 0) is fingerprint-folded into the
  // append-only generations ([[StreamEval.appendFingerprintBatch]]) in
  // 3 merges (+ the replay no-op), then the ARRIVING batch
  // (doc_id % 10 = 0) is decontaminated against the state with ONE
  // keyed join — history never rescanned. Per batch doc: total
  // fingerprints, fingerprints already known to the corpus, novelty
  // flag. Same winnowing parameters as q282 (k=4, w=5).
  private val WinK = 4
  private val WinW = 5

  def q291(s: SparkSession, dir: String): DataFrame = {
    val statePath = freshState("q291")
    val docs = t(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    mergeBuckets(corpus, pmod(col("doc_id"), lit(3)))(
      (batch, bid) => StreamEval.appendFingerprintBatch(
        s, batch, "doc_id", "text", statePath, bid, WinK, WinW))
    StreamEval.winnowNoveltyFromSet(s, statePath,
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        WinK, WinW)
      .orderBy(col("doc_id"))
  }

  val q291Sql: String =
    s"""WITH tk AS (SELECT doc_id, ${DocOps.tokensSql} AS toks
       |            FROM documents),
       | hs AS (SELECT doc_id, list_transform(
       |          generate_series(1, len(toks) - ${WinK - 1}),
       |          i -> md5(array_to_string(
       |            list_slice(toks, i, i + ${WinK - 1}), ' '))) AS h
       |        FROM tk WHERE len(toks) >= ${WinK + WinW - 1}),
       | fp AS (SELECT DISTINCT doc_id, unnest(list_transform(
       |          generate_series(1, len(h) - ${WinW - 1}),
       |          q -> list_min(list_slice(h, q, q + ${WinW - 1}))))
       |            AS fingerprint
       |        FROM hs),
       | corp AS (SELECT DISTINCT fingerprint FROM fp
       |          WHERE doc_id % 10 <> 0)
       |SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_fp,
       |  CAST(sum(CASE WHEN c.fingerprint IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_shared,
       |  CAST(CASE WHEN sum(CASE WHEN c.fingerprint IS NOT NULL
       |    THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS BIGINT) AS novel
       |FROM fp f LEFT JOIN corp c USING (fingerprint)
       |WHERE f.doc_id % 10 = 0
       |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q292 — q291's read-out with a COMPACTION mid-stream
  // ([[StreamEval.compactFingerprintGenerations]]): merge generations
  // 0 and 1, compact through 1 (the two dirs collapse into ONE
  // consolidated generation carrying the watermark marker), merge
  // generation 2, then REPLAY batches 0 and 1 — both must no-op, batch
  // 0 through the marker alone (its directory no longer exists). The
  // oracle IS q291's: compaction must not move a single novelty row.
  def q292(s: SparkSession, dir: String): DataFrame = {
    val statePath = freshState("q292")
    val docs = t(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      .withColumn("__b", pmod(col("doc_id"), lit(3)))
    def batch(bid: Long) = corpus.filter(col("__b") === bid).drop("__b")
    def merge(bid: Long) = StreamEval.appendFingerprintBatch(
      s, batch(bid), "doc_id", "text", statePath, bid, WinK, WinW)
    merge(0L); merge(1L)
    StreamEval.compactFingerprintGenerations(s, statePath, upTo = 1L)
    merge(2L)
    require(merge(0L) == 0L && merge(1L) == 0L,
      "q292: replay of a compacted-away batch merged rows — the " +
        "compaction watermark failed the no-op contract")
    StreamEval.winnowNoveltyFromSet(s, statePath,
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        WinK, WinW)
      .orderBy(col("doc_id"))
  }

  val q292Sql: String = q291Sql

  /** Name → query, for SparkEntry. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q292_monitor_winnow_compact" -> (q292 _),
    "q291_monitor_winnow_append" -> (q291 _),
    "q288_monitor_calibration_state" -> (q288 _),
    "q289_monitor_brier_state" -> (q289 _),
    "q290_monitor_kappa_state" -> (q290 _),
    "q284_monitor_ks_state" -> (q284 _),
    "q285_monitor_pettitt_state" -> (q285 _),
    "q286_monitor_chi2_state" -> (q286 _)
  )

  /** Name → DuckDB oracle SQL, for SparkEntry. */
  val oracles: Map[String, String] = Map(
    "q292_monitor_winnow_compact" -> q292Sql,
    "q291_monitor_winnow_append" -> q291Sql,
    "q288_monitor_calibration_state" -> q288Sql,
    "q289_monitor_brier_state" -> q289Sql,
    "q290_monitor_kappa_state" -> q290Sql,
    "q284_monitor_ks_state" -> q284Sql,
    "q285_monitor_pettitt_state" -> q285Sql,
    "q286_monitor_chi2_state" -> q286Sql
  )
}
