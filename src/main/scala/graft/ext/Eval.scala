package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** Labeled-data evaluation shelf: nearest-centroid classification and
  * agreement statistics — the QA pass a labeling/distillation pipeline
  * runs to ask "do these labels structure the embedding space, and how
  * far above chance is a trivial classifier?"
  *
  * All read-outs are exact integer arithmetic (counts and ppm by
  * integer division), the repo's oracle-stability discipline: a metric
  * whose last digit depends on float partial-aggregation order can't be
  * hash-gated or compared across engines. Every sum and ×10⁶ fold that
  * can reach n²-or-micro² magnitude runs in DECIMAL(38,0) via
  * [[Exact]], so no statistic here silently caps the corpus scale —
  * exposed raw-sum columns fail loudly past 64 bits rather than wrap.
  */
object Eval {

  /** Nearest-centroid prediction: per-label full-dimension centroids
    * (component means ROUNDED TO FLOAT — the [[VectorIndex]] discipline
    * that keeps a discrete argmax stable against partial-agg ulp
    * drift), then every row classified to its max-cosine centroid, ties
    * toward the larger label.
    *
    * Scale shape: one aggregation computes the centroids; they collect
    * to the driver as bounded metadata (labels × dim floats — the
    * [[VectorIndex.trainCentroids]] contract, the DATA never collects)
    * and come back as broadcast literals, so classification is one
    * codegen'd scan with no shuffle.
    *
    * @param labelCol integer label column
    * @return input rows plus a `pred` column
    */
  def centroidPredictions(emb: DataFrame, vecCol: String,
      labelCol: String): DataFrame = {
    val cents = labelCentroids(emb, vecCol, labelCol)
    withBest(emb, vecCol, cents)
      .withColumn("pred", col("__best").getField("pred"))
      .drop("__best")
  }

  /** [[centroidPredictions]] plus the winning score as `conf_micro`
    * (max cosine, floor-rounded to integer micro-units — the repo's
    * cross-engine float read-out discipline): the classifier's
    * CONFIDENCE, which [[calibrationBins]] prices against realized
    * accuracy. Same one-scan / broadcast-literal shape. */
  def centroidScoredPredictions(emb: DataFrame, vecCol: String,
      labelCol: String): DataFrame = {
    val cents = labelCentroids(emb, vecCol, labelCol)
    withBest(emb, vecCol, cents)
      .withColumn("pred", col("__best").getField("pred"))
      .withColumn("conf_micro",
        floor(col("__best").getField("score") * 1000000.0 + 0.5)
          .cast("long"))
      .drop("__best")
  }

  /** One prediction column per Matryoshka prefix width — `pred_w{w}`
    * classifies on the FIRST w components only. A component mean does
    * not depend on the other components, so the width-w centroid IS the
    * width-w prefix of the full-dimension centroid: ONE centroid
    * aggregation serves every width, and all widths classify in the
    * same single codegen'd scan (no extra pass per rater). The widths
    * act as independent "raters" of graded fidelity for
    * [[fleissKappaPpm]].
    *
    * @param widths ascending prefix widths; each ≤ the vector dim
    */
  def multiWidthPredictions(emb: DataFrame, vecCol: String,
      labelCol: String, widths: Seq[Int]): DataFrame = {
    require(widths.nonEmpty, "need at least one prefix width")
    val cents = labelCentroids(emb, vecCol, labelCol)
    widths.foldLeft(emb) { case (df, w) =>
      cents.foreach { case (_, c) =>
        require(w <= c.length,
          s"prefix width $w exceeds vector dim ${c.length}")
      }
      // the native argmax reads the leading components in place — no
      // slice copy per width per row
      withBest(df, vecCol, cents, width = w)
        .withColumn(s"pred_w$w", col("__best").getField("pred"))
        .drop("__best")
    }
  }

  /** The shared classification scan: appends `__best`, the
    * (score, pred) struct of the max-cosine centroid (ties toward the
    * larger label) via the native codegen'd
    * [[graft.plans.CosineArgmax]] — one self-dot + k fused
    * dot/compare steps per row, k-invariant code size. The Column
    * form it replaced (`greatest` over k cosine structs) classified
    * 1M dim-64 rows against 10 centroids in 58 s; the native pass
    * does it in ~2 s, bit-identical scores (sequential double sums,
    * nan-safe ordering, ties toward the larger label). */
  private def withBest(emb: DataFrame, vecCol: String,
      cents: Array[(Int, Array[Float])], width: Int = 0): DataFrame =
    emb.withColumn("__best",
      graft.plans.VectorExpressions.cosineArgmax(col(vecCol), cents, width))

  /** Reference Column-API form (greatest over cosine structs), kept
    * for cross-checking the native expression in tests — the
    * [[VectorFns.dotHof]] pattern. */
  private[graft] def withBestColumnForm(emb: DataFrame, vecCol: String,
      cents: Array[(Int, Array[Float])]): DataFrame = {
    val scores = cents.map { case (lab, c) =>
      struct(VectorFns.cosine(col(vecCol), VecOps.litF(c)).as("score"),
        lit(lab).as("pred"))
    }
    emb.withColumn("__best", greatest(scores.toSeq: _*))
  }

  /** Per-label FLOAT-ROUNDED component-mean centroids as bounded driver
    * metadata (labels × dim floats — the [[graft.ext.VectorIndex]]
    * contract; the DATA never collects). NULL labels are rejected
    * loudly (see [[VecOps.groupMeans]]). */
  private def labelCentroids(emb: DataFrame, vecCol: String,
      labelCol: String): Array[(Int, Array[Float])] =
    VecOps.groupMeans(emb, vecCol, labelCol)

  /** A rater column with the LOUD NULL guard (the
    * [[groupBalancedAccuracyPpm]] pattern): both multi-rater agreement
    * statistics are documented complete-data only, and an unguarded
    * NULL is SILENTLY wrong in two inconsistent ways at once — the
    * pairwise-agreement identity counts it as disagreeing on every
    * pair while the exploded marginals group it into a phantom class
    * counted in n_c/n. Fail at the first null row instead. */
  private def guardedRater(c: String, what: String): Column =
    coalesce(col(c).cast("int"),
      raise_error(lit(s"$what: NULL in rater column '$c' — the " +
        "agreement statistics are complete-data only; filter or " +
        "impute unrated items first")).cast("int"))

  /** Per-corpus (Σ_items Σ_classes o_uc², n_items) folded via the
    * pairwise-agreement identity Σ_c o_uc² = r + 2·Σ_{i<j}[pred_i =
    * pred_j] — a pure ROW expression, no per-item shuffle. The ONE
    * implementation behind both [[fleissKappaPpm]]'s P̄ and
    * [[krippendorffAlphaPpm]]'s D_o; rater NULLs fail loudly via
    * [[guardedRater]] (shared with the marginal folds, so the two
    * halves of each statistic can never diverge on null handling). */
  private def s2AndItems(df: DataFrame,
      raterCols: Seq[String], what: String): DataFrame = {
    val r = raterCols.length
    val preds = raterCols.map(c => guardedRater(c, what))
    val agreePairs = (for { i <- 0 until r; j <- (i + 1) until r } yield
      when(preds(i) === preds(j), 1L).otherwise(0L)).reduce(_ + _)
    df.select((lit(r.toLong) + lit(2L) * agreePairs).as("s2i"))
      .agg(Exact.decSum(col("s2i")).as("s2"), count(lit(1)).as("n_items"))
  }

  /** Exact confusion matrix: one row per (label, pred) pair that
    * occurs, with its count — the canonical classification read-out
    * every derived metric (accuracy, per-class P/R/F1, kappa) folds
    * from. One shuffle on the (label, pred) key. */
  def confusion(pred: DataFrame, labelCol: String,
      predCol: String): DataFrame =
    pred.groupBy(col(labelCol).cast("int").as("label"),
        col(predCol).cast("int").as("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("pred"))

  /** Cohen's kappa in exact ppm integers: observed agreement po against
    * the chance agreement pe implied by the two marginal distributions,
    * kappa = (po − pe) / (1 − pe). Computed entirely on counts:
    * po_ppm = correct·10⁶ div n, pe_ppm = Σ_k n_label(k)·n_pred(k)·10⁶
    * div n², kappa_ppm = (po_ppm − pe_ppm)·10⁶ div (10⁶ − pe_ppm) —
    * reproducible to the last digit on any engine (both Spark `div`
    * and the oracle's `//` truncate toward zero, including for a
    * below-chance negative kappa). The marginal-product sum and the
    * ×10⁶ ppm fold run in DECIMAL(38,0) (the [[Exact]] carrier): the
    * n²-magnitude `pesum` and its ×10⁶ scaling outgrow 64 bits at
    * n ≈ 3·10⁶ rows, so the decimal lift is what makes the statistic
    * exact at corpus scale rather than documented-to-a-bound.
    *
    * @return one row: (n, correct, po_ppm, pe_ppm, kappa_ppm)
    */
  def cohenKappaPpm(pred: DataFrame, labelCol: String,
      predCol: String): DataFrame =
    // fold rows to the ≤ |classes|² confusion counts and delegate —
    // the counts form is the single implementation (StreamEvalSpec
    // pins the two entry points to identical read-outs)
    cohenKappaFromCounts(
      pred.groupBy(col(labelCol).cast("int").as("__cl"),
          col(predCol).cast("int").as("__cp"))
        .agg(count(lit(1)).as("__cn")),
      "__cl", "__cp", "__cn")

  /** Per-class precision / recall / F1 in exact ppm integers, one row
    * per class (union of true and predicted label sets) plus a `-1`
    * macro row (unweighted mean of the per-class ppm values, sums in
    * the count columns). Zero-denominator classes read 0 (the sklearn
    * `zero_division=0` convention). Class-set note: the macro row
    * averages over the UNION of true and predicted classes (a
    * predicted-only class contributes a 0 vote), deliberately
    * different from [[balancedAccuracyPpm]], which averages recall
    * over TRUE classes only — the two read-outs diverge on corpora
    * with predicted-only classes. Everything folds from the two
    * marginal counts + the diagonal — three tiny aggregations on an
    * already-shuffled key, then arithmetic on ≤ #classes rows. */
  def perClassPrf1(pred: DataFrame, labelCol: String,
      predCol: String): DataFrame = {
    val p = pred.select(col(labelCol).cast("int").as("__l"),
      col(predCol).cast("int").as("__p"))
    val byTrue = p.groupBy(col("__l").as("class")).agg(
      count(lit(1)).as("n_true"),
      sum(when(col("__l") === col("__p"), 1L).otherwise(0L)).as("tp"))
    val byPred = p.groupBy(col("__p").as("class"))
      .agg(count(lit(1)).as("n_pred"))
    val per = byTrue.join(byPred, Seq("class"), "full_outer")
      .select(col("class"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        (coalesce(col("n_pred"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fp"),
        (coalesce(col("n_true"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fn"))
      .select(col("class"), col("tp"), col("fp"), col("fn"),
        expr(s"CASE WHEN tp + fp > 0 THEN (CAST(tp AS ${Exact.Dec})" +
          " * 1000000) div (tp + fp) ELSE 0L END").as("precision_ppm"),
        expr(s"CASE WHEN tp + fn > 0 THEN (CAST(tp AS ${Exact.Dec})" +
          " * 1000000) div (tp + fn) ELSE 0L END").as("recall_ppm"))
      .withColumn("f1_ppm",
        expr("CASE WHEN precision_ppm + recall_ppm > 0 THEN" +
          " (2 * precision_ppm * recall_ppm) div (precision_ppm + recall_ppm)" +
          " ELSE 0 END"))
    val macroRow = per.agg(
      lit(-1).as("class"),
      sum(col("tp")).as("tp"), sum(col("fp")).as("fp"),
      sum(col("fn")).as("fn"),
      expr("sum(precision_ppm) div count(*)").as("precision_ppm"),
      expr("sum(recall_ppm) div count(*)").as("recall_ppm"),
      expr("sum(f1_ppm) div count(*)").as("f1_ppm"))
    per.unionByName(macroRow).orderBy(col("class"))
  }

  /** Normalized mutual information between two discrete assignment
    * columns (e.g. a k-means cell vs a curated label) — the standard
    * "does the clustering recover the labels?" score, arithmetic-mean
    * normalized: NMI = 2·I(U;V) / (H(U) + H(V)).
    *
    * Float discipline: each log term is rounded to NANO units PER
    * CONTINGENCY CELL (`floor(x·10⁹ + 0.5)`, bit-reproducible on any
    * libm since the argument doubles are ratios of exact counts built
    * by one fixed expression shape), then summed as exact integers —
    * so partial-aggregation order can never move the read-out. The
    * contingency table is one shuffle; everything after is arithmetic
    * on ≤ |U|·|V| rows.
    *
    * @return one row: (n, mi_nano, h_left_nano, h_right_nano, nmi_ppm)
    */
  def nmiPpm(assign: DataFrame, leftCol: String,
      rightCol: String): DataFrame = {
    val p = assign.select(col(leftCol).cast("int").as("__u"),
      col(rightCol).cast("int").as("__v"))
    val cells = p.groupBy(col("__u"), col("__v")).agg(count(lit(1)).as("nij"))
    val nTot = p.agg(count(lit(1)).as("n"))
    // per-cell MI term in nano units; nij > 0 by construction
    val mi = cells
      .join(cells.groupBy(col("__u")).agg(sum(col("nij")).as("ni")), "__u")
      .join(cells.groupBy(col("__v")).agg(sum(col("nij")).as("nj")), "__v")
      .crossJoin(nTot)
      .select(expr("floor((CAST(nij AS DOUBLE) / CAST(n AS DOUBLE)) *" +
        " ln((CAST(n AS DOUBLE) * CAST(nij AS DOUBLE)) /" +
        " (CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE))) * 1000000000.0 + 0.5)")
        .cast("long").as("t"))
      .agg(coalesce(sum(col("t")), lit(0L)).as("mi_nano"))
    def entropyNano(keyCol: String, out: String): DataFrame =
      p.groupBy(col(keyCol)).agg(count(lit(1)).as("nk")).crossJoin(nTot)
        .select(expr("floor(-(CAST(nk AS DOUBLE) / CAST(n AS DOUBLE)) *" +
          " ln(CAST(nk AS DOUBLE) / CAST(n AS DOUBLE)) *" +
          " 1000000000.0 + 0.5)").cast("long").as("t"))
        .agg(coalesce(sum(col("t")), lit(0L)).as(out))
    nTot.crossJoin(mi)
      .crossJoin(entropyNano("__u", "h_left_nano"))
      .crossJoin(entropyNano("__v", "h_right_nano"))
      .select(col("n"), col("mi_nano"), col("h_left_nano"),
        col("h_right_nano"),
        // nano sums are cell-bounded, not row-bounded, but the ×10⁶
        // fold still outgrows 64 bits on a large contingency table —
        // lift it (the Exact discipline)
        expr(s"CASE WHEN h_left_nano + h_right_nano > 0 THEN" +
          s" (2 * CAST(mi_nano AS ${Exact.Dec}) * 1000000)" +
          " div (h_left_nano + h_right_nano) ELSE 0L END").as("nmi_ppm"))
  }

  /** Simplified (centroid-based) silhouette per label group: for each
    * row, a = euclidean distance to its OWN label centroid, b = the
    * minimum distance to any OTHER label centroid,
    * s = (b − a) / max(a, b) ∈ [−1, 1] — Hamerly's O(n·k) variant of
    * the O(n²) classic, the only form that scales (the pairwise
    * definition is a full self-join). Distances expand to
    * dot(v,v) − 2·dot(v,c) + dot(c,c) so the hot loop is the native
    * codegen'd dot products; dot(c,c) folds to a driver constant.
    * Per-row s is floored to ppm; group means are exact integer
    * divisions. Returns one row per label plus a `-1` overall row:
    * (label, n, mean_sil_ppm). */
  def simplifiedSilhouette(emb: DataFrame, vecCol: String,
      labelCol: String): DataFrame = {
    val cents = labelCentroids(emb, vecCol, labelCol)
    require(cents.length >= 2,
      "silhouette needs at least two label groups")
    val vv = VectorFns.dot(col(vecCol), col(vecCol))
    def d2(c: Array[Float]): Column =
      greatest(vv - lit(2.0) * VectorFns.dot(col(vecCol), VecOps.litF(c))
        + lit(VecOps.seqDot(c, c)), lit(0.0))
    val lab = col(labelCol).cast("int")
    // own distance: exactly one branch matches
    val a2 = coalesce(cents.map { case (l, c) =>
      when(lab === l, d2(c)) }: _*)
    val b2 = least(cents.map { case (l, c) =>
      when(lab =!= l, d2(c)) }: _*)
    val s = when(greatest(sqrt(a2), sqrt(b2)) > 0.0,
      (sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2)))
      .otherwise(lit(0.0))
    val rows = emb.select(lab.as("label"),
      floor(s * 1000000.0 + 0.5).cast("long").as("s_ppm"))
    val per = rows.groupBy(col("label")).agg(count(lit(1)).as("n"),
      expr(s"sum(CAST(s_ppm AS ${Exact.Dec})) div count(*)")
        .as("mean_sil_ppm"))
    val overall = rows.agg(lit(-1).as("label"), count(lit(1)).as("n"),
      expr(s"sum(CAST(s_ppm AS ${Exact.Dec})) div count(*)")
        .as("mean_sil_ppm"))
    per.unionByName(overall).orderBy(col("label"))
  }

  /** Confidence Brier score in exact micro² integers: mean squared gap
    * between the stated confidence (micro units) and the 0/1 outcome
    * (10⁶ on a correct prediction, 0 otherwise) — the proper-scoring
    * complement to [[calibrationBins]]' binned ECE (ECE can read 0 for
    * a confidently-wrong-in-both-directions model; Brier can't). Pure
    * integer: per-row (conf − outcome)² summed exactly in
    * DECIMAL(38,0) (the [[Exact]] carrier — the worst-case per-row
    * term is 4·10¹², so a 64-bit sum wrapped at ~2.3·10⁶ adversarial
    * rows, three orders of magnitude under the design scale; the
    * decimal sum is exact to 10³⁸), mean by integer division. The
    * mean always fits BIGINT (it is ≤ the per-row maximum); the raw
    * `sum_micro2` read-out fails LOUDLY past 64 bits instead of
    * wrapping. NULL confidence fails LOUDLY — silently skipping it
    * would divide a partial sum by the full row count.
    *
    * @return one row: (n, correct, sum_micro2, brier_micro2)
    */
  def brierMicro2(scored: DataFrame, labelCol: String, predCol: String,
      confMicroCol: String): DataFrame =
    scored.select(
        when(col(labelCol).cast("int") === col(predCol).cast("int"),
          1000000L).otherwise(0L).as("t"),
        coalesce(col(confMicroCol).cast("long"),
          raise_error(lit(s"brierMicro2: NULL in '$confMicroCol' — " +
            "score every row or filter unscored rows first"))
            .cast("long")).as("cm"))
      .select(col("t"), ((col("cm") - col("t")) * (col("cm") - col("t")))
        .as("se"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("t") === 1000000L, 1L).otherwise(0L)),
          lit(0L)).as("correct"),
        Exact.decSum(col("se")).as("sum_dec"))
      .select(col("n"), col("correct"),
        Exact.asLongOrFail(col("sum_dec"), "brierMicro2: sum_micro2")
          .as("sum_micro2"),
        expr("CASE WHEN n > 0 THEN sum_dec div n ELSE 0L END")
          .as("brier_micro2"))

  /** Balanced accuracy in exact ppm: the unweighted mean of per-class
    * recalls — the accuracy read-out that a skewed class mix can't
    * flatter (a constant majority-class predictor reads 1/k, not the
    * majority share).
    *
    * Class-set semantics, deliberately different from
    * [[perClassPrf1]]'s macro row: the mean here runs over TRUE-label
    * classes only (the standard balanced-accuracy definition — recall
    * is undefined for a class nobody ever has), while the macro row
    * averages over the union of true and predicted classes (a
    * predicted-only class votes 0 there). NULL labels fail LOUDLY —
    * a null key would otherwise form a phantom recall-0 class and
    * drag the mean (the same hazard [[VecOps.groupMeans]] guards). */
  def balancedAccuracyPpm(pred: DataFrame, labelCol: String,
      predCol: String): DataFrame =
    pred.select(
        coalesce(col(labelCol).cast("int"),
          raise_error(lit(s"balancedAccuracyPpm: NULL in '$labelCol' — " +
            "a null key would form a phantom recall-0 class"))
            .cast("int")).as("__l"),
        col(predCol).cast("int").as("__p"))
      .groupBy(col("__l"))
      .agg(count(lit(1)).as("nt"),
        sum(when(col("__l") === col("__p"), 1L).otherwise(0L)).as("tp"))
      .select(expr(s"(CAST(tp AS ${Exact.Dec}) * 1000000) div nt")
        .as("recall_ppm"))
      .agg(count(lit(1)).as("n_classes"),
        expr("sum(recall_ppm) div count(*)").as("balanced_acc_ppm"))

  /** Per-group balanced accuracy + the equal-opportunity gap, exact
    * ppm integers — the group-fairness read-out a labeling pipeline
    * runs before shipping labels: does the classifier serve every
    * cohort equally well? Per integer group: row count, true-class
    * count, and balanced accuracy ([[balancedAccuracyPpm]]'s
    * definition scoped to the group); a trailing `group = -1` row
    * carries (total rows, number of groups, max − min bacc) — the
    * GAP is the fairness statistic (0 = parity). NULL labels/groups
    * fail LOUDLY (phantom-class hazard). Two tiny keyed aggregations;
    * ×10⁶ folds in DECIMAL via [[Exact]]. */
  def groupBalancedAccuracyPpm(pred: DataFrame, labelCol: String,
      predCol: String, groupCol: String): DataFrame = {
    def guarded(c: String) = coalesce(col(c).cast("int"),
      raise_error(lit(s"groupBalancedAccuracyPpm: NULL in '$c' — a null" +
        " key would form a phantom group/class")).cast("int"))
    val per = pred
      .select(guarded(groupCol).as("__g"), guarded(labelCol).as("__l"),
        col(predCol).cast("int").as("__p"))
      .groupBy(col("__g"), col("__l"))
      .agg(count(lit(1)).as("nt"),
        sum(when(col("__l") === col("__p"), 1L).otherwise(0L)).as("tp"))
      .select(col("__g"), col("nt"),
        expr(s"(CAST(tp AS ${Exact.Dec}) * 1000000) div nt")
          .as("recall_ppm"))
      .groupBy(col("__g").as("group"))
      .agg(sum(col("nt")).as("n"), count(lit(1)).as("n_classes"),
        expr("sum(recall_ppm) div count(*)").as("bacc_ppm"))
    val gap = per.agg(lit(-1).as("group"), sum(col("n")).as("n"),
      count(lit(1)).as("n_classes"),
      (max(col("bacc_ppm")) - min(col("bacc_ppm"))).as("bacc_ppm"))
    per.unionByName(gap).orderBy(col("group"))
  }

  /** McNemar's paired test (continuity-corrected) between two
    * classifiers scored on the SAME rows — the right way to ask
    * "is B actually better than A?" (comparing two accuracies throws
    * away the pairing; only the DISAGREEMENT cells carry signal):
    * b = A-right/B-wrong, c = A-wrong/B-right,
    * stat = (|b − c| − 1)² / (b + c), read in micro units by integer
    * division (χ²₁ at 0.05 ≈ 3.84 ⇒ 3,841,459 micro). b + c = 0
    * (perfect agreement) reads 0 by convention. One aggregation,
    * no shuffle beyond the scan; the squared term in DECIMAL. */
  def mcnemarMicro(pred: DataFrame, labelCol: String,
      aCol: String, bCol: String): DataFrame =
    pred.select(col(labelCol).cast("int").as("__l"),
        col(aCol).cast("int").as("__a"), col(bCol).cast("int").as("__b"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("__a") === col("__l") &&
          !(col("__b") === col("__l")), 1L).otherwise(0L)), lit(0L))
          .as("b"),
        coalesce(sum(when(!(col("__a") === col("__l")) &&
          col("__b") === col("__l"), 1L).otherwise(0L)), lit(0L))
          .as("c"))
      .select(col("n"), col("b"), col("c"),
        expr(s"CASE WHEN b + c = 0 THEN 0L ELSE" +
          s" (CAST(abs(b - c) - 1 AS ${Exact.Dec}) * (abs(b - c) - 1)" +
          " * 1000000) div (b + c) END").as("mcnemar_micro"))

  /** Cochran's Q in exact micro units — the k-classifier
    * generalization of [[mcnemarMicro]] (are ANY of these k paired
    * classifiers different beyond chance?):
    * Q = (k−1)·(k·ΣC_j² − T²) / (k·T − ΣR_i²) with R_i = #classifiers
    * right on item i, C_j = #items classifier j got right, T = ΣR_i.
    * Everything is an integer fold of ONE scan (R_i is a row
    * expression over the k prediction columns; the C_j are k
    * conditional sums in the same aggregation); the squared terms run
    * in DECIMAL via [[Exact]]. Unanimous-on-every-item data
    * (denominator Σ R_i(k−R_i) = 0) reads 0 by convention. χ²_{k−1}
    * at 0.05 for k = 3 ≈ 5.99 ⇒ 5,991,465 micro.
    *
    * @return one row: (n_items, n_raters, t, q_micro)
    */
  def cochranQMicro(pred: DataFrame, labelCol: String,
      raterCols: Seq[String]): DataFrame = {
    require(raterCols.length >= 2, "Cochran's Q needs >= 2 classifiers")
    val k = raterCols.length
    val l = col(labelCol).cast("int")
    val oks = raterCols.map(c =>
      when(col(c).cast("int") === l, 1L).otherwise(0L))
    val ri = oks.reduce(_ + _)
    val aggs =
      Seq(count(lit(1)).as("n_items"),
        coalesce(sum(ri), lit(0L)).as("t"),
        Exact.decSum(Exact.dec(ri) * ri).as("r2")) ++
      oks.zipWithIndex.map { case (o, j) =>
        coalesce(sum(o), lit(0L)).as(s"c$j") }
    val csq = (0 until k).map(j =>
      s"CAST(c$j AS ${Exact.Dec}) * c$j").mkString(" + ")
    pred.agg(aggs.head, aggs.tail: _*)
      .select(col("n_items"), lit(k).cast("long").as("n_raters"), col("t"),
        expr(s"CASE WHEN $k * t - r2 = 0 THEN 0L ELSE" +
          s" (${k - 1} * ($k * ($csq) - CAST(t AS ${Exact.Dec}) * t)" +
          s" * 1000000) div ($k * t - r2) END").as("q_micro"))
  }

  /** Krippendorff's alpha (nominal metric, complete data) in exact
    * ppm — the agreement statistic built on COINCIDENCES rather than
    * rater marginals, the standard when raters are interchangeable:
    * α = 1 − D_o/D_e with
    * D_o ∝ Σ_items Σ_classes o_uc·(r − o_uc) = n_items·r² − S2 (S2 is
    * the same Σ o² sum [[fleissKappaPpm]] folds via the pairwise-
    * agreement identity — a pure row expression, no per-item
    * shuffle), and D_e ∝ Σ_classes n_c·(n − n_c) over the pooled
    * value counts (n = n_items·r). Exact:
    * α_ppm = 10⁶ − ((n_items·r² − S2)·(n−1)·10⁶) div
    *               ((r−1)·Σ n_c(n−n_c)), DECIMAL throughout.
    * Single-class data (D_e = 0: no disagreement is even possible)
    * reads 10⁶ by the [[fleissKappaPpm]] convention.
    *
    * @return one row: (n_items, n_raters, alpha_ppm)
    */
  def krippendorffAlphaPpm(df: DataFrame,
      raterCols: Seq[String]): DataFrame = {
    require(raterCols.length >= 2, "Krippendorff's alpha needs >= 2 raters")
    val r = raterCols.length
    val preds = raterCols.map(c => guardedRater(c, "krippendorffAlphaPpm"))
    val s2 = s2AndItems(df, raterCols, "krippendorffAlphaPpm")
    // Σ n_c·(n − n_c) = (Σn_c)² − Σn_c² — one aggregation over the
    // pooled value counts, no second pass for the total
    val dexp = df.select(explode(array(preds: _*)).as("__r"))
      .groupBy(col("__r")).agg(count(lit(1)).as("nc"))
      .agg(coalesce(sum(col("nc")), lit(0L)).as("nn"),
        Exact.decSum(Exact.dec(col("nc")) * col("nc")).as("nc2"))
      .select((Exact.dec(col("nn")) * col("nn") - col("nc2")).as("dexp"))
    s2.crossJoin(dexp)
      .select(col("n_items"), lit(r).cast("long").as("n_raters"),
        expr(s"CASE WHEN dexp = 0 THEN 1000000L ELSE" +
          s" 1000000 - ((CAST(n_items AS ${Exact.Dec}) * ${r * r} - s2)" +
          s" * (n_items * $r - 1) * 1000000)" +
          s" div (${r - 1} * dexp) END").as("alpha_ppm"))
  }

  /** Reliability table + expected calibration error, all integer ppm:
    * rows whose `confMicroCol` (micro-units, e.g. max-cosine × 10⁶)
    * lands in bin b = clamp(conf_micro·bins div 10⁶, 0, bins−1) are
    * priced for realized accuracy vs mean stated confidence;
    * gap_ppm = |acc − conf| per bin, and the trailing `-1` row carries
    * ECE = Σ n_b·gap_b div n — the one-number "is the classifier's
    * confidence honest?" read-out. One shuffle on the bin key.
    *
    * NULL confidence/label/pred fail LOUDLY (the [[brierMicro2]]
    * guard): least/greatest skip nulls, so an unguarded NULL
    * confidence would land in the TOP bin while `sum(cm) div
    * count(*)` divided a partial confidence sum by the full row
    * count — a silent miscalibration read-out. All ×10⁶ folds run in
    * DECIMAL(38,0) (the [[Exact]] carrier) so no bin count caps the
    * scale. */
  def calibrationBins(scored: DataFrame, labelCol: String, predCol: String,
      confMicroCol: String, bins: Int = 10): DataFrame =
    calibrationFromBinCounts(
      binCounts(scoredRows(scored, labelCol, predCol, confMicroCol,
        bins, what = "calibrationBins")))

  /** The shared scored-row projection — (bin, ok, cm) with loud NULL
    * guards — used by BOTH the batch read-out above and the streaming
    * monitor ([[graft.streaming.StreamEval.mergeScoredBatch]]): the
    * stream ≡ batch to-the-last-digit contract holds because the
    * expressions exist ONCE, not because two copies are in lockstep. */
  private[graft] def scoredRows(scored: DataFrame, labelCol: String,
      predCol: String, confMicroCol: String, bins: Int,
      what: String): DataFrame = {
    require(bins > 0, "need at least one bin")
    def guarded(c: String, as: String): Column =
      coalesce(col(c).cast("long"),
        raise_error(lit(s"$what: NULL in '$c' — score every " +
          "row or filter unscored rows first")).cast("long")).as(as)
    scored
      .select(guarded(labelCol, "l"), guarded(predCol, "p"),
        guarded(confMicroCol, "cm"))
      .select(
        expr(s"greatest(least((cm * $bins) div 1000000, " +
          s"${bins - 1L}L), 0L)").as("bin"),
        when(col("l") === col("p"), 1L).otherwise(0L).as("ok"),
        col("cm"))
  }

  /** Per-row squared confidence error off a [[scoredRows]] frame —
    * the Brier term the streaming monitor accumulates. */
  private[graft] def seFromOkCm: Column =
    (col("cm") - col("ok") * 1000000L) * (col("cm") - col("ok") * 1000000L)

  /** Per-bin sufficient statistic (bin, n, correct, conf_sum as
    * DECIMAL) — everything the reliability table derives from. */
  private[graft] def binCounts(rows: DataFrame): DataFrame =
    rows.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("ok")).as("correct"),
        Exact.decSum(col("cm")).as("conf_sum"))

  /** Reliability table + ECE from per-bin counts — the ONE
    * implementation behind [[calibrationBins]] and the streaming
    * monitor's [[graft.streaming.StreamEval.calibrationFromState]]. */
  def calibrationFromBinCounts(counts: DataFrame): DataFrame = {
    val per = counts
      .select(col("bin"), col("n"), col("correct"),
        expr(s"(CAST(correct AS ${Exact.Dec}) * 1000000) div n")
          .as("acc_ppm"),
        expr("conf_sum div n").as("conf_ppm"))
      .withColumn("gap_ppm", abs(col("acc_ppm") - col("conf_ppm")))
    val ece = per.agg(
      lit(-1L).as("bin"),
      sum(col("n")).as("n"), sum(col("correct")).as("correct"),
      expr(s"(CAST(sum(correct) AS ${Exact.Dec}) * 1000000) div sum(n)")
        .as("acc_ppm"),
      expr(s"sum(CAST(n AS ${Exact.Dec}) * conf_ppm) div sum(n)")
        .as("conf_ppm"),
      expr(s"sum(CAST(n AS ${Exact.Dec}) * gap_ppm) div sum(n)")
        .as("gap_ppm"))
    per.unionByName(ece).orderBy(col("bin"))
  }

  /** [[cohenKappaPpm]] over an ALREADY-FOLDED confusion matrix
    * (label, pred, n) — the entry point for mergeable monitoring state
    * ([[graft.streaming.StreamEval]]) and for any corpus big enough
    * that you fold once and derive every metric from the ≤ |classes|²
    * counts. Identical read-out to the row form (same ppm divisions
    * over the same exact integers). */
  def cohenKappaFromCounts(conf: DataFrame, labelCol: String,
      predCol: String, nCol: String): DataFrame = {
    val c = conf.select(col(labelCol).cast("int").as("__l"),
      col(predCol).cast("int").as("__p"), col(nCol).cast("long").as("__n"))
    val totals = c.agg(coalesce(sum(col("__n")), lit(0L)).as("n"),
      coalesce(sum(when(col("__l") === col("__p"), col("__n"))
        .otherwise(0L)), lit(0L)).as("correct"))
    val pe = c.groupBy(col("__l")).agg(sum(col("__n")).as("nt"))
      .join(c.groupBy(col("__p")).agg(sum(col("__n")).as("np")),
        col("__l") === col("__p"))
      .agg(Exact.decSum(Exact.dec(col("nt")) * col("np")).as("pesum"))
    totals.crossJoin(pe)
      .select(col("n"), col("correct"),
        expr(s"(CAST(correct AS ${Exact.Dec}) * 1000000) div n")
          .as("po_ppm"),
        expr(s"(pesum * 1000000) div (CAST(n AS ${Exact.Dec}) * n)")
          .as("pe_ppm"))
      .select(col("n"), col("correct"), col("po_ppm"), col("pe_ppm"),
        // pe = 10⁶ (every row one class on both sides) zeroes the
        // denominator; agreement is perfect-but-uninformative and
        // reads 10⁶ by convention — the fleissKappaPpm guard
        expr("CASE WHEN pe_ppm = 1000000 THEN 1000000 ELSE" +
          " ((po_ppm - pe_ppm) * 1000000) div (1000000 - pe_ppm)" +
          " END").as("kappa_ppm"))
  }

  /** Quadratically-weighted Cohen's kappa in exact ppm integers — the
    * ORDINAL-label agreement statistic (a 1-vs-2 confusion should cost
    * less than 1-vs-9; plain kappa charges both the same):
    * κ_w = 1 − Σ w_ij·O_ij / Σ w_ij·E_ij with w_ij = (i−j)² and
    * E_ij = row_i·col_j / n. Scaling E by n cancels the division, so
    * the whole statistic is INTEGER: κ_w_ppm = 10⁶ −
    * (n·Σw·O·10⁶) div Σ(w·row_i·col_j) — reproducible to the last
    * digit with no float anywhere. Both weighted sums and the
    * n·wo·10⁶ numerator run in DECIMAL(38,0) (the [[Exact]] carrier):
    * the 64-bit numerator overflowed at n ≈ 3·10⁵ worst-case rows at
    * label span 10 (wo_sum up to 81·n against the ×10⁶ scaling), and
    * we_sum carries an n²·span⁴ term. The exposed wo_sum/we_sum
    * read-outs fail LOUDLY past 64 bits instead of wrapping. One
    * shuffle on the (label, pred) key.
    *
    * @return one row: (n, wo_sum, we_sum, kappa_w_ppm); we_sum = 0
    *         (single observed class on both sides) reads κ = 10⁶
    */
  def weightedKappaPpm(pred: DataFrame, labelCol: String,
      predCol: String): DataFrame = {
    val p = pred.select(col(labelCol).cast("long").as("__l"),
      col(predCol).cast("long").as("__p"))
    val cells = p.groupBy(col("__l"), col("__p")).agg(count(lit(1)).as("nij"))
    val wo = cells.agg(Exact.decSum(
      Exact.dec((col("__l") - col("__p")) * (col("__l") - col("__p")))
        * col("nij")).as("wo_dec"))
    val we = cells.groupBy(col("__l")).agg(sum(col("nij")).as("ri"))
      .crossJoin(cells.groupBy(col("__p")).agg(sum(col("nij")).as("cj"))
        .withColumnRenamed("__p", "__pc"))
      .agg(Exact.decSum(
        Exact.dec((col("__l") - col("__pc")) * (col("__l") - col("__pc")))
          * col("ri") * col("cj")).as("we_dec"))
    p.agg(count(lit(1)).as("n")).crossJoin(wo).crossJoin(we)
      .select(col("n"),
        Exact.asLongOrFail(col("wo_dec"), "weightedKappaPpm: wo_sum")
          .as("wo_sum"),
        Exact.asLongOrFail(col("we_dec"), "weightedKappaPpm: we_sum")
          .as("we_sum"),
        expr(s"CASE WHEN we_dec = 0 THEN 1000000L ELSE" +
          s" 1000000 - (CAST(n AS ${Exact.Dec}) * wo_dec * 1000000)" +
          s" div we_dec END").as("kappa_w_ppm"))
  }

  /** Multiclass Matthews correlation coefficient (the Gorodkin R_K) in
    * ppm: MCC = (c·n − Σ t_k·p_k) / √((n² − Σ p_k²)(n² − Σ t_k²)) with
    * c = Σ n_kk, t/p the true/predicted marginals. Numerator and both
    * radicands are EXACT integer folds of the confusion counts in
    * DECIMAL(38,0) (the [[Exact]] carrier — the n²-magnitude terms
    * outgrow 64 bits at n ≈ 3·10⁹ rows); only the final two sqrt +
    * one divide run in double (same literal ops both engines),
    * floor-rounded to ppm. Degenerate marginals (either radicand 0 —
    * a constant predictor or a single-class corpus) read 0 by
    * convention. One shuffle on the (label, pred) key. */
  def mccPpm(pred: DataFrame, labelCol: String,
      predCol: String): DataFrame = {
    val p = pred.select(col(labelCol).cast("int").as("__l"),
      col(predCol).cast("int").as("__p"))
    val totals = p.agg(count(lit(1)).as("n"),
      sum(when(col("__l") === col("__p"), 1L).otherwise(0L)).as("correct"))
    val tk = p.groupBy(col("__l")).agg(count(lit(1)).as("t"))
    val pk = p.groupBy(col("__p")).agg(count(lit(1)).as("q"))
    val cross = tk.join(pk, col("__l") === col("__p"))
      .agg(Exact.decSum(Exact.dec(col("t")) * col("q")).as("tp_sum"))
    val sq = tk.agg(Exact.decSum(Exact.dec(col("t")) * col("t")).as("t2"))
      .crossJoin(pk.agg(Exact.decSum(Exact.dec(col("q")) * col("q"))
        .as("p2")))
    totals.crossJoin(cross).crossJoin(sq)
      .select(col("n"), col("correct"),
        (Exact.dec(col("correct")) * col("n") - col("tp_sum")).as("num"),
        (Exact.dec(col("n")) * col("n") - col("p2")).as("rad_p"),
        (Exact.dec(col("n")) * col("n") - col("t2")).as("rad_t"))
      .select(col("n"), col("correct"),
        expr("CASE WHEN rad_p = 0 OR rad_t = 0 THEN 0 ELSE" +
          " CAST(floor(CAST(num AS DOUBLE) /" +
          " (sqrt(CAST(rad_p AS DOUBLE)) * sqrt(CAST(rad_t AS DOUBLE)))" +
          " * 1000000.0 + 0.5) AS BIGINT) END").as("mcc_ppm"))
  }

  /** Fleiss' kappa for r raters in exact ppm integers — the multi-rater
    * generalization of [[cohenKappaPpm]]: per-item agreement
    * P_i = (Σ_k n_ik² − r) / (r(r−1)) folds to the single corpus sum
    * S = Σ_i Σ_k n_ik² (pure integer), chance agreement to the squared
    * class marginals. The marginal-square sum and both ppm folds run
    * in DECIMAL(38,0) (the [[Exact]] carrier): ck2 approaches (N·r)²
    * and its ×10⁶ scaling outgrew 64 bits at n·r ≈ 3·10⁶
    * assignments, so the decimal lift is what keeps the statistic
    * exact at corpus scale.
    *
    * Scale shape: each item's Σ_k n_ik² is the pairwise-agreement
    * identity r + 2·Σ_{i<j}[pred_i = pred_j] — a pure ROW expression
    * over the r rater columns, so S needs NO per-item shuffle (the
    * first cut exploded to (item, rating) rows and grouped on the
    * high-cardinality item key: a corpus-sized shuffle for a number
    * that folds map-side). The only shuffle left is the class-marginal
    * count, keyed on the tiny label space.
    *
    * Input contract: ONE ROW PER ITEM, one prediction column per
    * rater (all non-null).
    *
    * @param raterCols one prediction column per rater (≥ 2)
    * @return one row: (n_items, n_raters, pbar_ppm, pe_ppm, kappa_ppm)
    */
  def fleissKappaPpm(df: DataFrame, itemCol: String,
      raterCols: Seq[String]): DataFrame = {
    require(raterCols.length >= 2, "Fleiss' kappa needs >= 2 raters")
    val r = raterCols.length
    val preds = raterCols.map(c => guardedRater(c, "fleissKappaPpm"))
    val s2 = s2AndItems(df, raterCols, "fleissKappaPpm")
    val marg = df.select(explode(array(preds: _*)).as("__r"))
      .groupBy(col("__r")).agg(count(lit(1)).as("ck"))
      .agg(Exact.decSum(Exact.dec(col("ck")) * col("ck")).as("ck2"))
    s2.crossJoin(marg)
      .select(col("n_items"), lit(r).cast("long").as("n_raters"),
        expr(s"((s2 - CAST(n_items AS ${Exact.Dec}) * $r) * 1000000) div" +
          s" (CAST(n_items AS ${Exact.Dec}) * $r * ${r - 1})")
          .as("pbar_ppm"),
        expr(s"(ck2 * 1000000) div ((CAST(n_items AS ${Exact.Dec}) * $r)" +
          s" * (CAST(n_items AS ${Exact.Dec}) * $r))").as("pe_ppm"))
      .select(col("n_items"), col("n_raters"), col("pbar_ppm"),
        col("pe_ppm"),
        expr("CASE WHEN pe_ppm = 1000000 THEN 1000000 ELSE" +
          " ((pbar_ppm - pe_ppm) * 1000000) div (1000000 - pe_ppm)" +
          " END").as("kappa_ppm"))
  }
}
