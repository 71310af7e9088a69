package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** Spectral structure of an embedding corpus: the dominant principal
  * direction via DISTRIBUTED power iteration, and the "all-but-the-top"
  * variance read-out (Mu & Viswanath 2018: trained embedding spaces
  * concentrate a large variance share in a single common direction;
  * removing it improves downstream similarity).
  *
  * Scale shape: each power-iteration step is ONE aggregation — per row
  * the scalar y = ⟨x − μ, v⟩ (a native codegen'd dot against the
  * broadcast v), aggregated into the 64 component sums of Σ y·x plus
  * Σ y; the centering term folds algebraically (Σ y·(x−μ) = Σ y·x −
  * μ·Σ y), so the DATA is never centered or copied. k iterations =
  * k linear scans; the vector state lives on the driver as bounded
  * metadata. No shuffle anywhere (global agg only).
  *
  * Float discipline: μ and each iterate v are FLOAT-ROUNDED before
  * broadcast (the k-means/centroid precedent — rounding absorbs
  * partial-aggregation ulp drift so both engines iterate through the
  * SAME vectors); driver-side folds (norms, dot products) accumulate
  * left-to-right in double, matching SQL list_sum order.
  */
object Spectral {

  /** Global float-rounded component mean. */
  def meanVector(emb: DataFrame, vecCol: String): Array[Float] = {
    val dim = vecDim(emb, vecCol)
    emb.agg(VecOps.meanArray(vecCol, dim).as("m"))
      .head().getSeq[Float](0).toArray
  }

  /** Top principal direction of the centered corpus after `iterations`
    * power steps from the deterministic start v₀ = (1/√d, …, 1/√d).
    * Returns (μ, v) as float-rounded driver metadata. The sign of v is
    * fixed by v₀ (power iteration converges to ±PC1; a deterministic
    * start makes the sign reproducible).
    *
    * The mean FOLDS INTO the first power step (r13 verdict item 4):
    * with y = ⟨x,v₀⟩ − ⟨μ,v₀⟩, both Σ y·x = Σ ⟨x,v₀⟩x − ⟨μ,v₀⟩·Σx and
    * Σ y = Σ⟨x,v₀⟩ − n·⟨μ,v₀⟩ need only v₀-projections and raw
    * component sums — none of which depend on μ — so ONE scan yields
    * μ (as sum/count, meanArray's exact arithmetic) AND the first
    * iterate: iterations+0 scans instead of iterations+1. The
    * algebraic regrouping perturbs doubles at the same ulp scale as
    * partial-aggregation order, which the float-rounding of every
    * broadcast iterate already absorbs (the discipline above). */
  def topComponent(emb: DataFrame, vecCol: String,
      iterations: Int = 4): (Array[Float], Array[Float]) = {
    val (mu, v, _) = topComponentWithResiduals(emb, vecCol, iterations)
    (mu, v)
  }

  /** [[topComponent]] plus the per-iteration convergence read-out
    * (iter, lambda, residual): λ = ⟨v_prev, A·v_prev⟩ (the Rayleigh
    * quotient — the pre-normalization iterate IS A·v_prev) and
    * residual = ‖A·v_prev − λ·v_prev‖ / λ. Both fold driver-side from
    * numbers each step already computed — the iteration budget gets
    * priced like every other dial with ZERO extra scans (Stress
    * `spectral-pc1` prints the column). */
  def topComponentWithResiduals(emb: DataFrame, vecCol: String,
      iterations: Int = 4)
      : (Array[Float], Array[Float], Seq[(Int, Double, Double)]) =
    iterate(emb, vecCol, iterations, stopAt = None)

  /** The shared power-iteration loop: exactly `iterations` steps when
    * `stopAt` is None (oracle-parity mode — both engines unroll the
    * same count), early exit once the residual ≤ stopAt otherwise. */
  private def iterate(emb: DataFrame, vecCol: String, iterations: Int,
      stopAt: Option[Double])
      : (Array[Float], Array[Float], Seq[(Int, Double, Double)]) = {
    require(iterations >= 1, "need at least one power step")
    // Driver-loop rung (r18, the kmeansDriverMaxRows doctrine): under
    // `graft.spectralDriverMaxRows` the float vectors collect ONCE and
    // all power steps fold on the driver — the 1 + (iterations − 1)
    // scan jobs (each compiling a fresh literal-iterate plan) collapse
    // to one collect. Per-row arithmetic is FloatVectorDot's own
    // sequential double loop; cross-row sums accumulate in collect
    // order (the single-partition scan order the oracle SFs exercise),
    // and every broadcast iterate is float-rounded exactly as the
    // distributed path rounds it — the documented discipline that
    // absorbs sum-order ulp drift either way.
    driverVecRows(emb, vecCol).foreach { rows =>
      return iterateDriver(rows, iterations, stopAt)
    }
    val dim = vecDim(emb, vecCol)
    val v0: Array[Float] =
      Array.fill(dim)((1.0 / math.sqrt(dim.toDouble)).toFloat)
    // fused scan 1: raw component sums (→ μ) + v₀-projection sums
    val xv = VectorFns.dot(col(vecCol), litF(v0))
    val row0 = emb.agg(
      array((1 to dim).map(i =>
        sum(element_at(col(vecCol), i))): _*).as("m"),
      array((1 to dim).map(i =>
        sum(xv * element_at(col(vecCol), i))): _*).as("a"),
      sum(xv).as("s"), count(lit(1)).as("n")).head()
    // read the COUNT first: on an empty corpus the sums are NULL and
    // a getDouble on them NPEs before any loud guard could fire
    val n = row0.getLong(3)
    require(n > 0, "empty corpus — no mean or principal direction")
    val msum = row0.getSeq[Double](0)
    val asum = row0.getSeq[Double](1)
    val s = row0.getDouble(2)
    // sum/count then float-round: meanArray's exact arithmetic
    val mu: Array[Float] = Array.tabulate(dim)(j => (msum(j) / n).toFloat)
    val residuals = Seq.newBuilder[(Int, Double, Double)]
    var v: Array[Float] = v0
    var k = 0
    while (k < iterations) {
      val c0 = seqDot(mu, v)
      // Σ y·x and Σ y: from the fused scan on the first step, one
      // dedicated scan per later step
      val (w, ys) =
        if (k == 0)
          (Array.tabulate(dim)(j => asum(j) - c0 * msum(j)), s - n * c0)
        else {
          val y = VectorFns.dot(col(vecCol), litF(v)) - lit(c0)
          val row = emb.agg(
            array((1 to dim).map(i =>
              sum(y * element_at(col(vecCol), i))): _*).as("w"),
            sum(y).as("ys")).head()
          (row.getSeq[Double](0).toArray, row.getDouble(1))
        }
      // Σ y·(x − μ) = Σ y·x − μ·Σ y, componentwise; c = n·Cov·v
      val c = Array.tabulate(dim)(j => w(j) - mu(j).toDouble * ys)
      var n2 = 0.0
      var j = 0
      while (j < dim) { n2 += c(j) * c(j); j += 1 }
      val norm = math.sqrt(n2)
      require(norm > 0.0,
        "power iteration collapsed to zero — corpus has no variance" +
          " along the current iterate")
      // convergence: λ = ⟨v, c⟩ (Rayleigh, un-normalized operator),
      // residual = ‖c − λv‖/λ — both from already-computed numbers
      val lambda = {
        var acc = 0.0; var i = 0
        while (i < dim) { acc += v(i).toDouble * c(i); i += 1 }
        acc
      }
      val residual =
        if (lambda > 0.0) {
          var r2 = 0.0; var i = 0
          while (i < dim) {
            val d = c(i) - lambda * v(i).toDouble; r2 += d * d; i += 1
          }
          math.sqrt(r2) / lambda
        } else Double.NaN
      residuals += ((k + 1, lambda, residual))
      v = c.map(x => (x / norm).toFloat)
      k += 1
      // early exit in residual-driven mode (never in oracle-parity
      // mode, where the step count is part of the contract)
      if (stopAt.exists(t => residual <= t)) k = iterations
    }
    (mu, v, residuals.result())
  }

  /** Residual-driven [[topComponent]]: iterate until the Rayleigh
    * residual ‖Av − λv‖/λ drops below `tol` (or `maxIterations`),
    * paying only the scans convergence actually needs — the
    * production entry point when the spectrum is unknown (the
    * fixed-`iterations` form exists for oracle parity, where both
    * engines must unroll the same step count). The check is FREE:
    * the residual folds driver-side from each step's own aggregates
    * and the loop RESUMES from the current iterate — one scan per
    * step, never a restart. Fails loudly if maxIterations exhausts
    * before tol (a silently non-converged direction would quietly
    * under-read every downstream share/removal). */
  def topComponentConverged(emb: DataFrame, vecCol: String,
      tol: Double = 1e-3, maxIterations: Int = 32)
      : (Array[Float], Array[Float], Seq[(Int, Double, Double)]) = {
    require(tol > 0.0, s"tol must be positive, got $tol")
    require(maxIterations >= 1, "need at least one power step")
    iterate(emb, vecCol, maxIterations, stopAt = Some(tol)) match {
      case (mu, v, res) if res.last._3 <= tol => (mu, v, res)
      case (_, _, res) =>
        throw new IllegalStateException(
          s"power iteration residual ${res.last._3} > tol $tol after" +
            s" $maxIterations steps — spectrum too flat; raise" +
            " maxIterations or accept a wider tol explicitly")
    }
  }

  /** Variance share of the top component, integer-exact read-out: per
    * row, total centered energy d² = ‖x − μ‖² and top-direction energy
    * y² = ⟨x − μ, v⟩² are each floored to micro units BEFORE the exact
    * integer sums (so partial-agg order can't move a digit);
    * share_ppm = top·10⁶ div total. Both sums and the ×10⁶ fold run
    * in DECIMAL(38,0) (the [[Exact]] carrier — a 64-bit micro-energy
    * sum caps out near 10¹² rows and the ppm multiply 10⁶× earlier);
    * the exposed sums fail LOUDLY past 64 bits instead of wrapping.
    * One scan with two native dots per row (the d² expansion reuses
    * the silhouette trick).
    *
    * @return one row: (n, total_micro, top_micro, share_ppm)
    */
  /** Top-k principal SUBSPACE by block (orthogonal) power iteration —
    * the deflation-free generalization of [[topComponent]]: all k
    * directions advance together, each step is still ONE scan (the
    * aggregation just carries k·dim + k sums instead of dim + 1),
    * and the k×k orthogonalization runs driver-side on metadata.
    * Gram-matrix-free: at dim d the covariance never materializes —
    * the scan cost is O(rows·d·k) and the driver cost O(d·k²).
    *
    * Starts are the deterministic Rademacher block (direction j
    * alternates sign every 2ʲ components, scaled 1/√d) — mutually
    * orthogonal when 2^k divides d, which is required loudly.
    * After each step the block re-orthonormalizes by modified
    * Gram–Schmidt IN ITERATION ORDER, each vector float-rounded
    * before the next projects against it — the same
    * round-the-broadcast-iterate discipline as [[topComponent]], and
    * the exact arithmetic the oracle mirrors step for step. The
    * first scan fuses the mean exactly as the k = 1 path does.
    *
    * Returns (μ, the k float-rounded directions, per-step per-dir
    * (iter, dir, rayleigh) read-outs — pre-orthogonalization Rayleigh
    * quotients, the spectrum estimate that prices `iterations`).
    */
  def topSubspace(emb: DataFrame, vecCol: String, k: Int,
      iterations: Int)
      : (Array[Float], Seq[Array[Float]], Seq[(Int, Int, Double)]) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iterations >= 1, "need at least one power step")
    val dim = vecDim(emb, vecCol)
    // k = 1 uses only the uniform start (no orthogonality to satisfy
    // — any dim works, matching topComponent's domain); for k ≥ 2 the
    // Walsh block needs bit k−2 balanced: 2^(k−1) | dim exactly
    require(k == 1 || dim % (1 << (k - 1)) == 0,
      s"Rademacher starts need 2^(k-1) | dim (k=$k, dim=$dim)")
    val inv = (1.0 / math.sqrt(dim.toDouble)).toFloat
    // direction 0 starts uniform (EXACTLY the k = 1 path's v₀, so the
    // leading direction reproduces topComponent bit for bit);
    // direction j ≥ 1 flips sign on bit j−1 of the component index —
    // Walsh rows, mutually orthogonal when 2^k | dim
    val v0: Seq[Array[Float]] = (0 until k).map { j =>
      if (j == 0) Array.fill(dim)(inv)
      else Array.tabulate(dim)(i =>
        if (((i >> (j - 1)) & 1) == 0) inv else -inv)
    }
    // fused scan 1: raw component sums + each direction's v₀ sums
    val xvs = v0.map(v => VectorFns.dot(col(vecCol), litF(v)))
    val agg0: Seq[Column] =
      Seq(array((1 to dim).map(i => sum(element_at(col(vecCol), i))): _*)
          .as("m"),
        count(lit(1)).as("n")) ++
      xvs.flatMap(xv => Seq(
        array((1 to dim).map(i => sum(xv * element_at(col(vecCol), i)))
          : _*),
        sum(xv)))
    val row0 = emb.agg(agg0.head, agg0.tail: _*).head()
    val msum = row0.getSeq[Double](0)
    val n = row0.getLong(1)
    require(n > 0, "empty corpus — no mean or principal subspace")
    val mu: Array[Float] = Array.tabulate(dim)(j => (msum(j) / n).toFloat)
    val rayleighs = Seq.newBuilder[(Int, Int, Double)]
    var vs: Seq[Array[Float]] = v0
    var it = 0
    while (it < iterations) {
      // the block scan: c_j = Σ y_j·x − μ·Σ y_j, y_j = ⟨x,v_j⟩ − ⟨μ,v_j⟩
      val cs: Seq[Array[Double]] =
        if (it == 0) {
          vs.zipWithIndex.map { case (v, j) =>
            val c0 = seqDot(mu, v)
            val a = row0.getSeq[Double](2 + 2 * j)
            val s = row0.getDouble(3 + 2 * j)
            val ys = s - n * c0
            Array.tabulate(dim)(i => a(i) - c0 * msum(i) -
              mu(i).toDouble * ys)
          }
        } else {
          val ys = vs.map(v =>
            VectorFns.dot(col(vecCol), litF(v)) - lit(seqDot(mu, v)))
          val aggK: Seq[Column] = ys.flatMap(y => Seq(
            array((1 to dim).map(i =>
              sum(y * element_at(col(vecCol), i))): _*),
            sum(y)))
          val row = emb.agg(aggK.head, aggK.tail: _*).head()
          vs.indices.map { j =>
            val w = row.getSeq[Double](2 * j)
            val s = row.getDouble(2 * j + 1)
            Array.tabulate(dim)(i => w(i) - mu(i).toDouble * s)
          }
        }
      // Rayleigh per direction BEFORE orthogonalization: λ_j = ⟨v_j, c_j⟩
      vs.zip(cs).zipWithIndex.foreach { case ((v, c), j) =>
        var acc = 0.0; var i = 0
        while (i < dim) { acc += v(i).toDouble * c(i); i += 1 }
        rayleighs += ((it + 1, j + 1, acc))
      }
      // modified Gram–Schmidt, float-rounding each vector before the
      // next projects against it (the oracle replays this literally)
      val next = Array.ofDim[Array[Float]](k)
      var j = 0
      while (j < k) {
        val r = cs(j).clone()
        var l = 0
        while (l < j) {
          val u = next(l)
          var pr = 0.0; var i = 0
          while (i < dim) { pr += r(i) * u(i).toDouble; i += 1 }
          i = 0
          while (i < dim) { r(i) -= pr * u(i).toDouble; i += 1 }
          l += 1
        }
        var n2 = 0.0; var i = 0
        while (i < dim) { n2 += r(i) * r(i); i += 1 }
        require(n2 > 0.0,
          s"block power iteration collapsed in direction ${j + 1} — " +
            "the corpus has fewer than k directions of variance")
        val norm = math.sqrt(n2)
        next(j) = r.map(x => (x / norm).toFloat)
        j += 1
      }
      vs = next.toSeq
      it += 1
    }
    (mu, vs, rayleighs.result())
  }

  /** Variance share captured by a SUBSPACE (the k-direction
    * generalization of [[topShare]]): per-row Σ_j ⟨xᶜ,v_j⟩², each
    * direction's square micro-floored separately (the per-row-floor-
    * then-exact-sum discipline, mirrored by the oracle), against the
    * total centered energy. */
  def subspaceShare(emb: DataFrame, vecCol: String, mu: Array[Float],
      vs: Seq[Array[Float]]): DataFrame = {
    require(vs.nonEmpty, "need at least one direction")
    val d2 = centeredEnergyCol(col(vecCol), mu)
    val y2m = vs.map { v =>
      val y = VectorFns.dot(col(vecCol), litF(v)) - lit(seqDot(mu, v))
      floor(y * y * 1000000.0 + 0.5).cast("long")
    }.reduce(_ + _)
    emb.select(
        floor(d2 * 1000000.0 + 0.5).cast("long").as("d2m"),
        y2m.as("y2m"))
      .agg(count(lit(1)).as("n"),
        Exact.decSum(col("d2m")).as("total_dec"),
        Exact.decSum(col("y2m")).as("top_dec"))
      .select(col("n"),
        Exact.asLongOrFail(col("total_dec"), "subspaceShare: total_micro")
          .as("total_micro"),
        Exact.asLongOrFail(col("top_dec"), "subspaceShare: top_micro")
          .as("top_micro"),
        expr("CASE WHEN total_dec > 0 THEN" +
          " (top_dec * 1000000) div total_dec ELSE 0L END")
          .as("share_ppm"))
  }

  /** Remove a whole SUBSPACE from every vector:
    * x′ = x − Σ_j ⟨x − μ, v_j⟩·v_j — the k-direction generalization
    * of [[removeTop]] (all-but-the-top-k). One scan, no shuffle; each
    * projection scalar y_j materializes ONCE per row ([[removeTop]]'s
    * O(d²)-per-row guard), and the corrections apply in direction
    * order so the arithmetic is reproducible. Orthonormal `vs`
    * assumed (what [[topSubspace]] returns). */
  def removeSubspace(emb: DataFrame, vecCol: String, mu: Array[Float],
      vs: Seq[Array[Float]], outCol: String): DataFrame = {
    require(vs.nonEmpty, "need at least one direction")
    val yCols = vs.indices.map(j => s"__abtt_y$j")
    val withYs = vs.zip(yCols).foldLeft(emb) { case (df, (v, yc)) =>
      df.withColumn(yc,
        VectorFns.dot(col(vecCol), litF(v)) - lit(seqDot(mu, v)))
    }
    val corrected: Column = vs.zip(yCols)
      .foldLeft(col(vecCol)) { case (acc, (v, yc)) =>
        zip_with(acc, litF(v),
          (x, vc) => x.cast("double") - col(yc) * vc.cast("double"))
      }
    withYs
      .withColumn(outCol, transform(corrected, z => z.cast("float")))
      .drop(yCols: _*)
  }

  /** Raw projection ⟨x, v⟩ as a Column — the binning-friendly form
    * (ordering is translation-invariant, so grid read-outs need no
    * centering constant). */
  def rawProjectionCol(vec: Column, v: Array[Float]): Column =
    VectorFns.dot(vec, litF(v))

  /** Centered energy ‖x − μ‖² as a Column (clamped at 0 against ulp
    * cancellation) — the denominator every share read-out uses. */
  def centeredEnergyCol(vec: Column, mu: Array[Float]): Column =
    greatest(
      VectorFns.dot(vec, vec)
        - lit(2.0) * VectorFns.dot(vec, litF(mu)) + lit(seqDot(mu, mu)),
      lit(0.0))

  def topShare(emb: DataFrame, vecCol: String, mu: Array[Float],
      v: Array[Float]): DataFrame = {
    val d2 = centeredEnergyCol(col(vecCol), mu)
    val y = VectorFns.dot(col(vecCol), litF(v)) - lit(seqDot(mu, v))
    emb.select(
        floor(d2 * 1000000.0 + 0.5).cast("long").as("d2m"),
        floor(y * y * 1000000.0 + 0.5).cast("long").as("y2m"))
      .agg(count(lit(1)).as("n"),
        Exact.decSum(col("d2m")).as("total_dec"),
        Exact.decSum(col("y2m")).as("top_dec"))
      .select(col("n"),
        Exact.asLongOrFail(col("total_dec"), "topShare: total_micro")
          .as("total_micro"),
        Exact.asLongOrFail(col("top_dec"), "topShare: top_micro")
          .as("top_micro"),
        expr("CASE WHEN total_dec > 0 THEN" +
          " (top_dec * 1000000) div total_dec ELSE 0L END")
          .as("share_ppm"))
  }

  /** Remove the top component from every vector:
    * x' = x − ⟨x − μ, v⟩·v (the "all-but-the-top" correction, applied
    * around the mean). One scan, no shuffle; output is float. The
    * scalar y is materialized ONCE per row — referencing the dot
    * expression inside the zip_with lambda would re-evaluate the
    * d-element dot per output component (O(d²)/row). */
  def removeTop(emb: DataFrame, vecCol: String, mu: Array[Float],
      v: Array[Float], outCol: String): DataFrame = {
    val y = VectorFns.dot(col(vecCol), litF(v)) - lit(seqDot(mu, v))
    emb.withColumn("__abtt_y", y)
      .withColumn(outCol,
        zip_with(col(vecCol), litF(v),
          (x, vc) => (x.cast("double") - col("__abtt_y") * vc.cast("double"))
            .cast("float")))
      .drop("__abtt_y")
  }

  /** Collect the float vectors for the driver power loop when the
    * input is provably small and uniformly shaped: array<float>, no
    * null rows/elements, one dimension, row count ≤
    * `graft.spectralDriverMaxRows` (default 131072; 0 disables).
    * None beyond the gate — callers keep the distributed scans. */
  private def driverVecRows(emb: DataFrame,
      vecCol: String): Option[Array[Array[Float]]] = {
    val bound = emb.sparkSession.conf
      .get("graft.spectralDriverMaxRows", "131072").toLong
    emb.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) =>
      case _ => return None
    }
    // ONE bounded collect answers the gate AND ships the data
    // ([[ScaleGate.collectUnder]]) — a count-first probe was tried in
    // r19 and reverted on an A/B (see the measurement note in
    // [[graft.ext.VectorIndex.driverLloydRows]]: the under-bound path
    // is the common regime and the manufactured count cost one extra
    // job per call).
    val got = ScaleGate.collectUnder(emb.select(col(vecCol)), bound)
      .getOrElse(return None)
    if (got.isEmpty ||
        got.exists(r => r.isNullAt(0) || r.getSeq[Any](0).contains(null)))
      return None
    val rows = got.map(_.getSeq[Float](0).toArray)
    val d = rows.head.length
    if (rows.exists(_.length != d) || d == 0) return None
    Some(rows)
  }

  /** The power loop of [[iterate]] with every scan replaced by a fold
    * over the collected rows — arithmetic mirrored step for step
    * (FloatVectorDot per row; Σ y·x, Σ y, Σ x in row order; identical
    * driver-side c/λ/residual/normalization folds). */
  private def iterateDriver(rows: Array[Array[Float]], iterations: Int,
      stopAt: Option[Double])
      : (Array[Float], Array[Float], Seq[(Int, Double, Double)]) = {
    val dim = rows.head.length
    val n = rows.length.toLong
    val v0: Array[Float] =
      Array.fill(dim)((1.0 / math.sqrt(dim.toDouble)).toFloat)
    // fused scan 1 replica: msum, asum (v0-projection sums), s
    val msum = new Array[Double](dim)
    val asum = new Array[Double](dim)
    var s = 0.0
    rows.foreach { x =>
      val xv = VecOps.seqDot(x, v0)
      var j = 0
      while (j < dim) {
        msum(j) += x(j).toDouble
        asum(j) += xv * x(j).toDouble
        j += 1
      }
      s += xv
    }
    val mu: Array[Float] = Array.tabulate(dim)(j => (msum(j) / n).toFloat)
    val residuals = Seq.newBuilder[(Int, Double, Double)]
    var v: Array[Float] = v0
    var k = 0
    while (k < iterations) {
      val c0 = seqDot(mu, v)
      val (w, ys) =
        if (k == 0)
          (Array.tabulate(dim)(j => asum(j) - c0 * msum(j)), s - n * c0)
        else {
          val wk = new Array[Double](dim)
          var ysk = 0.0
          rows.foreach { x =>
            val y = VecOps.seqDot(x, v) - c0
            var j = 0
            while (j < dim) { wk(j) += y * x(j).toDouble; j += 1 }
            ysk += y
          }
          (wk, ysk)
        }
      val c = Array.tabulate(dim)(j => w(j) - mu(j).toDouble * ys)
      var n2 = 0.0
      var j = 0
      while (j < dim) { n2 += c(j) * c(j); j += 1 }
      val norm = math.sqrt(n2)
      require(norm > 0.0,
        "power iteration collapsed to zero — corpus has no variance" +
          " along the current iterate")
      val lambda = {
        var acc = 0.0; var i = 0
        while (i < dim) { acc += v(i).toDouble * c(i); i += 1 }
        acc
      }
      val residual =
        if (lambda > 0.0) {
          var r2 = 0.0; var i = 0
          while (i < dim) {
            val d = c(i) - lambda * v(i).toDouble; r2 += d * d; i += 1
          }
          math.sqrt(r2) / lambda
        } else Double.NaN
      residuals += ((k + 1, lambda, residual))
      v = c.map(x => (x / norm).toFloat)
      k += 1
      if (stopAt.exists(t => residual <= t)) k = iterations
    }
    (mu, v, residuals.result())
  }

  private def vecDim(emb: DataFrame, vecCol: String): Int =
    VecOps.vecDim(emb, vecCol)

  private def litF(a: Array[Float]): Column = VecOps.litF(a)

  private def seqDot(a: Array[Float], b: Array[Float]): Double =
    VecOps.seqDot(a, b)
}
