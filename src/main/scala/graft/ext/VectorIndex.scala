package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** IVF (inverted-file) approximate-nearest-neighbor index — the
  * clustering-based scale path next to the LSH sign-bucket variant
  * (queries q23/q25).
  *
  * Layout mirrors a production IVF deployment:
  *  - TRAIN: k coarse centroids. Deterministic k-means (fixed number of
  *    Lloyd iterations over DataFrame aggregates, seeded by the first k
  *    vectors in id order) — no RNG, reproducible across engines, and
  *    each iteration is one groupBy shuffle.
  *  - INDEX: every vector assigned to its nearest centroid (`cell`
  *    column). At 100 TB the table is written partitioned/bucketed by
  *    `cell`, so a probe scan prunes to the probed cells' files.
  *  - SEARCH: score the query against the k centroids (driver-side, k is
  *    tiny), scan only the `nProbe` closest cells, brute-force cosine
  *    inside them with the codegen'd dot, TakeOrderedAndProject top-k.
  *
  * Recall/latency trade-off is nProbe/k, the standard IVF dial.
  */
object VectorIndex {

  /** Deterministic k-means centroids as driver arrays (k and dim are
    * small: centroids are broadcast metadata, the DATA never collects).
    *
    * Driver-loop rung (r18, the graph-fixpoint pattern): the training
    * input is sample-sized by contract ("at corpus scale train on a
    * sample" — the codebook never grows with the data), so under
    * `graft.kmeansDriverMaxRows` the (id, vec) rows collect ONCE and
    * every Lloyd iteration runs on the driver — replacing the
    * per-iteration assign+agg+collect job (plus the init sort job)
    * with zero jobs. Arithmetic replicated exactly: the
    * [[graft.plans.CosineArgmax]] per-row loops are sequential in both
    * paths; only the per-cell component MEAN's addition order can
    * differ (distributed partial sums vs ascending-id driver sum) —
    * the same freedom the DuckDB oracles already exercise, and every
    * k-means oracle re-gates it. Beyond the bound (or non-long ids /
    * null-ful arrays) the distributed loop below is unchanged. */
  def trainCentroids(embeddings: DataFrame, vecCol: String, k: Int,
      iterations: Int = 5, idCol: String = "vec_id"): Array[Array[Float]] = {
    driverLloydRows(embeddings, vecCol, idCol).map { rows =>
      var centroids: Array[Array[Float]] =
        rows.take(k).map(_._2.map(_.toFloat))
      (0 until iterations).foreach { _ =>
        val dim = centroids.head.length
        val sums = Array.fill(centroids.length)(new Array[Double](dim))
        val ns = new Array[Long](centroids.length)
        rows.foreach { case (_, v) =>
          val cell = cosineArgmaxDriver(v, centroids)
          ns(cell) += 1
          var i = 0
          while (i < math.min(dim, v.length)) {
            sums(cell)(i) += v(i); i += 1
          }
        }
        val updated = centroids.clone()
        var c = 0
        while (c < centroids.length) {
          if (ns(c) > 0)
            updated(c) = sums(c).map(s => (s / ns(c).toDouble).toFloat)
          c += 1
        }
        centroids = updated
      }
      centroids
    }.getOrElse {
    var centroids: Array[Array[Float]] = embeddings
      .orderBy(col(idCol)).limit(k)
      .select(vecCol).collect()
      .map(_.getSeq[Float](0).toArray)

    (0 until iterations).foreach { _ =>
      val assigned = assignCells(embeddings, vecCol, centroids)
      val dim = centroids.head.length
      // mean per cell: aggregate(sum per component) / count, one shuffle
      val sums = assigned
        .groupBy(col("cell"))
        .agg(
          count(lit(1)).as("n"),
          array((0 until dim).map(i =>
            sum(element_at(col(vecCol), i + 1)).as(s"s$i")): _*).as("sums"))
        .collect()
      val updated = centroids.clone()
      sums.foreach { r =>
        val cell = r.getInt(0)
        val n = r.getLong(1).toDouble
        val s = r.getSeq[Double](2)
        if (n > 0) updated(cell) = s.map(v => (v / n).toFloat).toArray
      }
      centroids = updated
    }
    centroids
    }
  }

  /** Collect the (id, vector-as-double) rows for a driver-side Lloyd
    * loop, ascending id, when the input is provably small and simply
    * typed: long/int id, float/double array with no null elements,
    * row count ≤ `graft.kmeansDriverMaxRows` (default 131072; 0
    * disables). Returns None beyond the gate — callers keep the
    * distributed loop. float→double is exact, so arithmetic on the
    * collected doubles is bit-identical to the expressions' own
    * float-promoted math. */
  private def driverLloydRows(embeddings: DataFrame, vecCol: String,
      idCol: String): Option[Array[(Long, Array[Double])]] = {
    val bound = embeddings.sparkSession.conf
      .get("graft.kmeansDriverMaxRows", "131072").toLong
    val idOk = embeddings.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    val vecType = embeddings.schema(vecCol).dataType
    val isFloat = vecType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    val isDouble = vecType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, _) => true
      case _ => false
    }
    if (!idOk || !(isFloat || isDouble)) return None
    // ONE bounded collect answers the gate AND ships the data
    // ([[ScaleGate.collectUnder]]). A count-first probe (count job,
    // then collect only when provably inside the bound) was tried in
    // r19 and REVERTED on an alternating subset A/B: trainer inputs are
    // sample-sized by contract, so the UNDER-bound path is the common
    // regime (every bench trainer query, every production codebook
    // train) and the manufactured count cost it one extra job per call
    // (q49 +0.06/+0.12 s, q199 +0.10/+0.19, q200 +0.11/+0.17 across
    // two A/B pairs). The over-bound ship this accepts is ≤ bound+1
    // rows, once, immediately before a many-job distributed loop.
    val got = ScaleGate.collectUnder(embeddings
      .select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v")),
      bound).getOrElse(return None)
    // a null id / null array / null element puts the input outside the
    // expressions' replicated non-null fast paths — keep distributed
    if (got.exists(r => r.isNullAt(0) || r.isNullAt(1) ||
        r.getSeq[Any](1).contains(null))) return None
    Some(got.map { r =>
      val v =
        if (isFloat) r.getSeq[Float](1).map(_.toDouble).toArray
        else r.getSeq[Double](1).toArray
      (r.getLong(0), v)
    }.sortBy(_._1))
  }

  /** Driver replica of [[graft.plans.CosineArgmax]]'s assignment (no
    * width cap, non-null elements): sequential double self-dot and
    * per-centroid dots, ties toward the LARGER label under nan-safe
    * `>=` — bit-identical to the expression's nullSafeEval loop. */
  private def cosineArgmaxDriver(v: Array[Double],
      centroids: Array[Array[Float]]): Int = {
    var sv = 0.0
    var i = 0
    while (i < v.length) { sv += v(i) * v(i); i += 1 }
    val nv = math.sqrt(sv)
    // norms: sequential double self-dot, the CosineArgmax contract
    var bestS = 0.0
    var bestL = 0
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      val m = math.min(v.length, cent.length)
      var s = 0.0
      var cn = 0.0
      var t = 0
      while (t < cent.length) { cn += cent(t).toDouble * cent(t).toDouble; t += 1 }
      t = 0
      while (t < m) { s += v(t) * cent(t).toDouble; t += 1 }
      val score = s / (nv * math.sqrt(cn))
      val acc =
        if (c == 0 || java.lang.Double.isNaN(score)) true
        else if (java.lang.Double.isNaN(bestS)) false
        else score >= bestS
      if (acc) { bestS = score; bestL = c }
      c += 1
    }
    bestL
  }

  /** Driver replica of [[graft.plans.ArgminL2]]: left-to-right double
    * sum of squared diffs, strict `<` keeps the first (lowest) cell. */
  private def argminL2Driver(v: Array[Double], off: Int,
      codebook: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < codebook.length) {
      val cent = codebook(c)
      var s = 0.0
      var t = 0
      while (t < cent.length) {
        val d = v(off + t) - cent(t); s += d * d; t += 1
      }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** Assignment: nearest centroid by cosine in ONE native codegen'd
    * pass ([[graft.plans.CosineArgmax]] — one self-dot + k fused
    * dot/compare steps per row, k-invariant code size). Scores and the
    * ties-toward-larger-cell rule are bit-identical to the
    * `greatest(struct(cosine, cell))` Column form it replaced (which
    * paid per-row struct allocation + interpreted struct comparison —
    * the ArgminL2 pathology), so every k-means oracle is unchanged. */
  def assignCells(embeddings: DataFrame, vecCol: String,
      centroids: Array[Array[Float]]): DataFrame = {
    val labeled = centroids.zipWithIndex.map { case (c, i) => (i, c) }
    embeddings.withColumn("cell",
      graft.plans.VectorExpressions.cosineArgmax(col(vecCol), labeled)
        .getField("pred"))
  }

  /** Top-k cosine search probing only the nProbe closest cells. */
  def search(spark: SparkSession, indexed: DataFrame, vecCol: String,
      idCol: String, centroids: Array[Array[Float]],
      query: Array[Float], k: Int, nProbe: Int): DataFrame = {
    val probed = centroids.zipWithIndex
      .sortBy { case (c, _) => -cosF(c, query) }
      .take(nProbe).map(_._2)
    indexed
      .filter(col("cell").isin(probed.toSeq: _*)) // partition-prunable at scale
      .select(col(idCol),
        VectorFns.cosine(col(vecCol), VecOps.litF(query)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Semantic deduplication (SemDeDup-shaped): drop all but one
    * representative of every cluster of embedding-near-duplicate items.
    *
    * Pipeline:
    *  1. sign-bucket LSH blocks the pair space (candidates share a
    *     bucket — never |n|² pairs);
    *  2. in-bucket pairs kept when round(cosine·10⁴) >= tauBp — the
    *     basis-point threshold is compared AFTER half-up rounding so
    *     the decision is identical in any engine computing the same
    *     double sum (the q32 gate technique);
    *  3. connected components over the kept pairs (min-label
    *     propagation, O(diameter) keyed joins);
    *  4. keep = the minimum-id member of each component.
    *
    * Scale: bucket sizes bound the pair expansion (add bits for bigger
    * corpora); CC is the shared [[TextDedup.connectedComponents]] loop,
    * its state pinned per round by [[ScaleGate.materialize]].
    *
    * @param tauBp cosine threshold in basis points (8500 = 0.85)
    * @param bands number of sign-LSH bands; band j buckets on vector
    *              components [j·bits, (j+1)·bits) (disjoint hyperplane
    *              sets, so `bands·bits` must not exceed the dimension).
    *              Two vectors are candidates when they agree in ALL
    *              `bits` signs of ANY band — the q125 MinHash recall
    *              knob applied to embeddings: recall per true pair is
    *              1 − (1 − p^bits)^bands instead of the single-band
    *              p^bits, and `bucketCap` loss degrades PER BAND (a
    *              vector skipped in one saturated band still pairs via
    *              its other bands) instead of all-or-nothing. bands = 1
    *              is exactly the original single-bucket pipeline.
    * @param bucketCap when set, (band, bucket) groups with more than
    *                  `cap` members contribute NO candidate pairs from
    *                  that band — the [[TextDedup.lshCandidates]]
    *                  starCap / similarityJoin dfCap family guard. A
    *                  bucket at 10× the mean means that band's signs are
    *                  not discriminating there (near-constant
    *                  components, or bits ≪ log₂ n); its pair cost is
    *                  |bucket|². With bands = 1 capping is
    *                  all-or-nothing per vector (documented recall
    *                  loss: oversized-bucket members never dedup —
    *                  measured 150+ GB of shuffle spill on a
    *                  deliberately-degenerate 1M corpus whose vectors
    *                  collapsed to <1k sign patterns); with bands > 1
    *                  the loss is per-band and the other bands keep the
    *                  vector dedupable.
    * @return (idCol, component, keep) — one row per input id
    */
  def semanticDedup(embeddings: DataFrame, vecCol: String, idCol: String,
      tauBp: Int, bits: Int = 4, bands: Int = 1,
      bucketCap: Option[Long] = None,
      ccMaxRounds: Int = 40): DataFrame = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    // norms precomputed ONCE per vector (n rows), not per candidate
    // pair — at dim 768 that's 2 dot products saved per pair. The
    // double result is bit-identical to cosine()'s inline norms: the
    // operation tree (dot / (sqrt · sqrt)) is unchanged, only where
    // the sqrt evaluates.
    val base = embeddings
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__nrm", VectorFns.l2Norm(col("__v")))
    val idPairs: DataFrame =
      if (bands == 1) {
        // (the banded branch inherits this check from bandedScoredPairs
        // — running it here too would pay the probe job twice)
        requireBandsFit(embeddings, vecCol, bits, bands)
        val b0 = base.withColumn("__bkt", VectorFns.signBucket(col("__v"), bits))
        val b = bucketCap.fold(b0) { cap =>
          val oversized = b0.groupBy(col("__bkt"))
            .agg(count(lit(1)).as("__bc")).filter(col("__bc") > cap)
            .select(col("__bkt"))
          b0.join(oversized, Seq("__bkt"), "left_anti")
        }
        val a = b.select(col("__bkt"), col("__id").as("ia"), col("__v").as("va"),
          col("__nrm").as("na"))
        val c = b.select(col("__bkt"), col("__id").as("ib"), col("__v").as("vb"),
          col("__nrm").as("nb"))
        a.join(c, Seq("__bkt"))
          .filter(col("ia") < col("ib"))
          .filter(floor(VectorFns.dot(col("va"), col("vb"))
            / (col("na") * col("nb")) * 10000 + lit(0.5)) >= tauBp)
          .select(col("ia"), col("ib"))
      } else {
        // banded path: the shared blocked-pair generator (same bucket
        // exchange + rejoin shape — see [[bandedScoredPairs]]); the
        // tauBp gate here is identical to the generator's cos_bp
        // (floor returns the same long the score column carries)
        bandedScoredPairs(embeddings, vecCol, idCol, bits, bands, bucketCap)
          .filter(col("cos_bp") >= tauBp)
          .select(col("ia"), col("ib"))
      }
    // banded graphs are denser than single-band cuts — near-threshold
    // chains run long, so propagation gets headroom by default (the
    // loop exits on convergence; unused rounds cost nothing)
    TextDedup.connectedComponents(idPairs, embeddings.select(col(idCol)),
        srcCol = "ia", dstCol = "ib", nodeCol = idCol,
        maxRounds = ccMaxRounds)
      .select(col("node").as(idCol), col("component"),
        (col("node") === col("component")).as("keep"))
  }

  /** SemDeDup-style CLUSTER-scoped semantic dedup (Abbas et al. 2023):
    * partition the corpus by k-means cell (the same frozen-centroid
    * assignment the IVF index uses), then compare pairs only WITHIN a
    * cell and drop every vector that has a lower-id cell-mate above the
    * cosine threshold.
    *
    * This is the other blocking geometry from [[semanticDedup]]'s
    * sign-LSH: LSH buckets are data-independent hyperplane cuts (recall
    * is probabilistic per pair), k-means cells follow the data's actual
    * density (near-duplicates co-assign unless they straddle a cell
    * boundary — the miss mode the paper accepts). Pair volume is
    * Σ_cells n_c², so the centroid count k plays the bucket-width role:
    * at 100 TB you size k so E[n_c] keeps n_c² per-task-bounded, and
    * the per-cell expansion shuffles on the cell id exactly like the
    * LSH bucket exchange — only (cell, id, vec) rows, no cross-cell
    * traffic. Training cost is bounded separately (fixed-iteration
    * Lloyd on a driver-bounded seed set, [[trainCentroids]]).
    *
    * Tie/threshold semantics match [[semanticDedup]]: the comparison is
    * on floor(cos·10⁴ + 0.5) ≥ tauBp, integer basis points, so the
    * keep/drop decision is oracle-stable. Unlike the CC formulation,
    * "keep" here is NOT transitive-closure canonicalization: a vector
    * survives iff NO lower-id cell-mate clears the threshold — the
    * paper's greedy keep-first rule, one anti-join instead of a
    * fixpoint.
    *
    * `subBits` is the HIERARCHICAL escape hatch the Stress `semdd`
    * pricing forced: cluster occupancy is bought with k·dim
    * classification flops, so at affordable k the cells grow with n
    * and the within-cell all-pairs goes n²/k (measured: 3.1e10
    * analytic pairs at 4M docs, k = 256). With subBits > 0 the pair
    * expansion keys on (cell, sign-LSH sub-bucket) instead — expected
    * volume divides by ~2^subBits at zero extra build cost (the sign
    * bits read the vector already in hand), and the sub-bucket is a
    * deterministic function of the vector so the read-out stays
    * oracle-exact. Recall consequence: a qualifying pair is missed
    * iff it straddles a sub-bucket sign boundary — the q163/banded
    * trade, priced in Stress `semdd` (hier arm). subBits = 0 (the
    * default) is the exact SemDeDup geometry, bit-identical to before.
    *
    * @return (idCol, cell, keep) — one row per input vector
    */
  /** The occupancy law for the hierarchical `subBits` dial of
    * [[semanticDedupClustered]] — the same discipline
    * [[lshCandidates]] applies to its band bits: pick the LARGEST b
    * with k·occTarget·2^b ≤ n, so the expected (cell × sub-bucket)
    * occupancy n/(k·2^b) stays ≥ occTarget and within-cell pair
    * volume is ~n·occTarget (linear in n) instead of n²/k. Derivation
    * is INTEGRAL (no log/floor float knife-edge), so an engine
    * replaying it — e.g. the q241 oracle's generate_series scan —
    * lands on the identical value by exact arithmetic. Returns 0
    * (the exact SemDeDup geometry) when even one sub-bucket would
    * under-fill; capped at `maxBits` leading components (must fit
    * the vector dim — [[graft.functions.VectorFns.signBucket]] reads
    * component i for bit i). A hard-coded subBits re-opens the n²/k
    * cell blow-up the dial exists to close (r14 verdict item 3):
    * derive it from the corpus unless oracle parity pins a value. */
  def occupancySubBits(n: Long, k: Int, occTarget: Int = 64,
      maxBits: Int = 16): Int = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(occTarget >= 1, s"occTarget must be >= 1, got $occTarget")
    require(maxBits >= 0 && maxBits <= 62, s"maxBits out of range: $maxBits")
    // overflow-proof form of k·occ·2^b <= n: compare 2^b against the
    // DIVIDED bound (k·occ·2^b wraps Long past b ≈ 54 and would
    // silently return maxBits for any n)
    val bound = n / (k.toLong * occTarget)
    (0 to maxBits).reverse
      .find(b => (1L << b) <= bound)
      .getOrElse(0)
  }

  def semanticDedupClustered(embeddings: DataFrame, vecCol: String,
      idCol: String, centroids: Array[Array[Float]], tauBp: Int,
      subBits: Int = 0): DataFrame = {
    require(subBits >= 0, s"subBits must be >= 0, got $subBits")
    val assigned = assignCells(embeddings, vecCol, centroids)
      .select(col(idCol).as("__id"), col("cell"), col(vecCol).as("__v"))
      .withColumn("__nrm", VectorFns.l2Norm(col("__v")))
      .withColumn("__sub", if (subBits == 0) lit(0L)
        else VectorFns.signBucket(col("__v"), subBits))
    val a = assigned.select(col("cell"), col("__sub"),
      col("__id").as("ia"), col("__v").as("va"), col("__nrm").as("na"))
    val b = assigned.select(col("cell"), col("__sub"),
      col("__id").as("ib"), col("__v").as("vb"), col("__nrm").as("nb"))
    val dropped = a.join(b, Seq("cell", "__sub"))
      .filter(col("ia") < col("ib"))
      .filter(floor(VectorFns.dot(col("va"), col("vb"))
        / (col("na") * col("nb")) * 10000 + lit(0.5)) >= tauBp)
      .select(col("ib").as("__dropId")).distinct()
    assigned
      .join(dropped, assigned("__id") === dropped("__dropId"), "left_outer")
      .select(col("__id").as(idCol), col("cell"),
        col("__dropId").isNull.as("keep"))
  }

  /** Fail FAST on the bands·bits ≤ dim contract (it binds at bands = 1
    * too: bits alone must fit the vector) — a violation otherwise dies
    * mid-job as a bare ANSI INVALID_ARRAY_INDEX in the bucket exchange
    * (or, non-ANSI, silently collapses out-of-range signs into one
    * bucket). The probe is empty-/null-safe: no first row or a null
    * vector skips the check and leaves the lazy empty-result path. */
  private def requireBandsFit(embeddings: DataFrame, vecCol: String,
      bits: Int, bands: Int): Unit =
    embeddings.limit(1).select(size(col(vecCol)).cast("int")).collect()
      .headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Int]))
      .foreach { dim =>
        require(bands * bits <= dim,
          s"bands*bits = ${bands * bits} exceeds vector dim $dim — " +
            "bands slice DISJOINT leading components")
      }

  /** Banded sign-LSH candidate pairs WITH their cosine scores — THE
    * blocked pair generator behind [[semanticDedup]]'s banded path,
    * exported so every pairwise READ-OUT query (dendrogram levels, MMR
    * similarity frames, cohesion profiles) inherits the operator
    * layer's scale guards instead of hand-rolling a single-band join:
    * bands ≥ 2 keeps per-pair recall at 1 − (1 − p^bits)^bands, and
    * `bucketCap` degrades PER BAND when a (band, bucket) group
    * saturates (near-constant sign components) rather than detonating
    * an n²/2^bits in-bucket expansion.
    *
    * Shape (the 100 TB contract): the (band, bucket) exchange carries
    * ONLY (band, bkt, id) — vectors rejoin after the candidate set is
    * DISTINCT on (ia, ib), so a pair colliding in several bands pays
    * the dim-sized cosine once and the bands-× fan-out never ships
    * embedding arrays. Norms are computed once per vector; the score
    * expression tree (dot / (sqrt·sqrt)) is identical to
    * [[VectorFns.cosine]]'s inline form, so scores are bit-stable
    * against the brute-force path.
    *
    * @param bucketCap (band, bucket) groups with more than `cap`
    *                  members contribute NO pairs from that band —
    *                  the starCap/dfCap family guard; with bands ≥ 2
    *                  a vector skipped in one saturated band still
    *                  pairs via its other bands
    * @return (ia, ib, cos_bp) — ia < ib, one row per candidate pair,
    *         cos_bp = floor(cosine·10⁴ + 0.5) as BIGINT (round-half-up
    *         basis points, the q32 gate basis)
    */
  def bandedScoredPairs(embeddings: DataFrame, vecCol: String,
      idCol: String, bits: Int = 4, bands: Int = 2,
      bucketCap: Option[Long] = None): DataFrame = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    requireBandsFit(embeddings, vecCol, bits, bands)
    val base = embeddings
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__nrm", VectorFns.l2Norm(col("__v")))
    val b0 = base.select(col("__id"),
      posexplode(array((0 until bands).map(j =>
        VectorFns.signBucketAt(col("__v"), j * bits, bits)): _*))
        .as(Seq("__band", "__bkt")))
    val b = bucketCap.fold(b0) { cap =>
      val oversized = b0.groupBy(col("__band"), col("__bkt"))
        .agg(count(lit(1)).as("__bc")).filter(col("__bc") > cap)
        .select(col("__band"), col("__bkt"))
      b0.join(oversized, Seq("__band", "__bkt"), "left_anti")
    }
    val cand = b.select(col("__band"), col("__bkt"), col("__id").as("ia"))
      .join(b.select(col("__band"), col("__bkt"), col("__id").as("ib")),
        Seq("__band", "__bkt"))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib")).distinct()
    cand
      .join(base.select(col("__id").as("ia"), col("__v").as("va"),
        col("__nrm").as("na")), "ia")
      .join(base.select(col("__id").as("ib"), col("__v").as("vb"),
        col("__nrm").as("nb")), "ib")
      .select(col("ia"), col("ib"),
        floor(VectorFns.dot(col("va"), col("vb"))
          / (col("na") * col("nb")) * 10000 + lit(0.5))
          .cast("long").as("cos_bp"))
  }

  /** Deterministic ±1 sign matrix for [[randomProject]]: entry (j, i) is
    * +1 iff the low bit of md5("seed:j:i")'s first byte is 0. MD5 makes
    * the matrix reproducible in ANY engine (the q162 portable-draw
    * technique), so the projection itself is gate-checkable — no RNG
    * state to ship. k·d entries: driver-side broadcast metadata, like
    * the IVF centroids. */
  def signMatrix(k: Int, d: Int, seed: String): Array[Array[Int]] =
    Array.tabulate(k, d) { (j, i) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$j:$i".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1 else -1
    }

  /** Johnson–Lindenstrauss random projection with a ±1 (Achlioptas)
    * matrix: maps each `vecCol` (array&lt;float&gt;, dim d) to a k-dim
    * INTEGER vector y, y_j = Σ_i sign(j,i)·q_i over components quantized
    * to q_i = floor(x_i·scale + 0.5). Sparse-friendly sketch of the
    * embedding space: pairwise distances are preserved within
    * O(√(log n / k)) relative error, at k/d the storage and downstream
    * compute (the standard pre-step before brute-force dedup scans or
    * coarse clustering at 100 TB).
    *
    * Integer-exact by construction: quantize-then-project keeps every
    * y_j an exact BIGINT — no float partial-sum order to diverge across
    * engines or partitionings (the q88 doctrine). With |x| ≤ 1,
    * scale = 1000, d = 64: |y_j| ≤ 6.4e4 — sums of y² over millions of
    * rows stay far below 2^53.
    *
    * Scale shape: narrow scan → per-row O(k·d) arithmetic, NO shuffle;
    * the sign matrix is a literal in the plan (k·d ints), never a join.
    */
  def randomProject(embeddings: DataFrame, vecCol: String,
      signs: Array[Array[Int]], outCol: String = "proj",
      scale: Long = 1000L): DataFrame = {
    val qv = transform(col(vecCol),
      x => floor(x.cast("double") * scale + lit(0.5)).cast("long"))
    val projCols = signs.map { row =>
      val rowLit = array(row.map(v => lit(v.toLong)): _*)
      aggregate(zip_with(qv, rowLit, (a, b) => a * b),
        lit(0L), (acc, x) => acc + x)
    }
    embeddings.withColumn(outCol, array(projCols: _*))
  }

  /** Deterministic ORTHONORMAL rotation — the OPQ-style pre-step for
    * product quantization (Ge et al., "Optimized Product Quantization",
    * CVPR 2013 motivate learning R; the deterministic stand-in is the
    * randomized-Hadamard transform HD/√d of the fast-JL literature):
    * y_j = (1/√d)·Σ_i (−1)^popcount(j AND i)·s_i·x_i, with the ±1
    * diagonal s drawn by [[signMatrix]]'s portable MD5 technique. The
    * matrix is exactly orthonormal (Hadamard × signed diagonal), so
    * L2 distances — and therefore brute-force neighbor sets — are
    * preserved; what changes is how variance and correlation spread
    * across PQ SUBSPACES. On anisotropic/correlated embeddings that
    * balance is where rotated PQ recall comes from; on near-isotropic
    * unit vectors (the synthetic gate corpus measures a 4× covariance
    * eigenspread) rotation is distribution-neutral by symmetry and the
    * priced recall moves only by sample noise — q201 reads that price
    * honestly rather than asserting a win.
    *
    * Numerics contract (the q88 doctrine): every matrix entry is
    * ±(1/√d) with d a power of two — an EXACT power-of-two scale, so
    * each product is exact and the component sum (left fold in i
    * order, the list_sum order) is bit-reproducible cross-engine.
    * Scale shape: one scan, per-row O(d²) multiply-adds from d literal
    * coefficient rows, no shuffle — the [[randomProject]] layout with
    * a square orthonormal matrix.
    *
    * @param vecCol array&lt;float&gt; or array&lt;double&gt;, dim a power of 2
    * @return input plus `outCol` array&lt;double&gt; */
  def hadamardRotate(embeddings: DataFrame, vecCol: String,
      outCol: String = "rvec", seed: String = "opq"): DataFrame = {
    val dim = VecOps.vecDim(embeddings, vecCol)
    require(dim > 0 && (dim & (dim - 1)) == 0,
      s"Hadamard rotation needs a power-of-2 dim, got $dim")
    val s = signMatrix(1, dim, seed)(0)
    val scale = 1.0 / math.sqrt(dim.toDouble)
    val xv = transform(col(vecCol), x => x.cast("double"))
    val comps = (0 until dim).map { j =>
      val rowLit = array((0 until dim).map { i =>
        val h = if (Integer.bitCount(j & i) % 2 == 0) 1 else -1
        lit(h * s(i) * scale)
      }: _*)
      aggregate(zip_with(xv, rowLit, (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x)
    }
    embeddings.withColumn(outCol, array(comps: _*))
  }

  // ------------------------------------------------------------------
  // Product quantization (Jégou/Douze/Schmid, PAMI 2011) — the
  // compressed-codes rung of the ANN ladder (brute q23 → sign-LSH q25 →
  // multi-probe q135 → IVF q49 → PQ): each vector becomes m small
  // centroid ids (m·log₂k bits instead of d floats — 64 floats → 4
  // bytes at m=4, k=256), and search scans CODES with an integer
  // lookup-table sum instead of touching raw vectors at all. At 100 TB
  // this is what makes the candidate scan memory-resident: the code
  // table is ~100× smaller than the embedding column.
  //
  // Determinism doctrine: init = the k lowest-id vectors' subvectors,
  // Lloyd runs a FIXED iteration count, argmin ties break to the
  // lowest centroid id (min-struct), per-row distances are sequential
  // left-fold sums (no partial-agg order), and search distances are
  // floor-micro LONGs summed exactly. Centroid MEANS round through
  // float before re-entering the loop (the q49 trick): the grouped
  // component sums behind them are partial-agg-order-dependent in
  // their last double ulps (~1e-16 relative), and the float round
  // (granularity ~1e-7) absorbs that noise — so codes and results are
  // bit-identical cross-engine and run-to-run, and the whole
  // train→encode→search chain unrolls into a SQL oracle (the q49
  // technique, L2 flavor).


  /** argmin over sub-codebook `cents` by (d², cid) — ties to the
    * LOWEST centroid id. Delegates to the native codegen'd
    * [[graft.plans.ArgminL2]]: the k-unrolled least(struct) form paid
    * Janino compile time ∝ k (k = 32 ⇒ ~2.5 s per Lloyd stage), the
    * HOF form paid k array allocations PER ROW (8M-row encode 22 →
    * 135 s) — the native loop is k-invariant in code size AND
    * allocation-free per row, with the same left-fold distance order
    * and first-min tie semantics (oracle-pinned by q191/q199/q200). */
  private def pqArgmin(v: Column, cents: Array[Array[Double]]): Column =
    graft.plans.VectorExpressions.argminL2(v, cents)

  /** The double-cast j-th subvector (1-based slice) of `vecCol`. */
  private def subVec(vecCol: String, j: Int, dsub: Int): Column =
    expr(s"transform(slice($vecCol, ${j * dsub + 1}, $dsub)," +
      " x -> CAST(x AS DOUBLE))")

  /** Train the PQ codebook: per subspace an independent L2 k-means
    * (fixed `iterations` Lloyd steps from the k lowest-id init — the
    * [[trainCentroids]] seeding, double precision throughout; empty
    * cells keep their previous centroid). Returns m sub-codebooks of
    * k centroids each — m·k·(dim/m) doubles of DRIVER metadata, the
    * IVF-centroid contract: at corpus scale train on a sample, the
    * codebook never grows with the data. */
  def pqTrain(embeddings: DataFrame, vecCol: String, idCol: String,
      m: Int, k: Int, iterations: Int): Array[Array[Array[Double]]] = {
    require(m >= 1 && k >= 2 && iterations >= 1,
      s"bad PQ params m=$m k=$k iters=$iterations")
    // Driver-loop rung (r18, same gate + doctrine as trainCentroids'):
    // collect the sample-sized training rows ONCE and run every
    // subspace's whole Lloyd chain on the driver — m·(1 + iterations)
    // tiny assign/agg jobs collapse to one collect. ArgminL2 assignment
    // replicated exactly (left-assoc double sum, strict < first-min);
    // the subvector cast float→double is exact.
    driverLloydRows(embeddings, vecCol, idCol).foreach { rows =>
      val dimD = rows.headOption.map(_._2.length).getOrElse(0)
      if (dimD > 0 && dimD % m == 0) {
        val dsubD = dimD / m
        return (0 until m).map { j =>
          val off = j * dsubD
          var cents: Array[Array[Double]] =
            rows.take(k).map(_._2.slice(off, off + dsubD))
          (0 until iterations).foreach { _ =>
            val sums = Array.fill(cents.length)(new Array[Double](dsubD))
            val ns = new Array[Long](cents.length)
            rows.foreach { case (_, v) =>
              val cell = argminL2Driver(v, off, cents)
              ns(cell) += 1
              var i = 0
              while (i < dsubD) { sums(cell)(i) += v(off + i); i += 1 }
            }
            val upd = cents.clone()
            var c = 0
            while (c < cents.length) {
              if (ns(c) > 0)
                upd(c) = sums(c).map(s =>
                  (s / ns(c).toDouble).toFloat.toDouble)
              c += 1
            }
            cents = upd
          }
          cents
        }.toArray
      }
    }
    val dim = VecOps.vecDim(embeddings, vecCol)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    (0 until m).map { j =>
      val sub = embeddings.select(col(idCol).as("__id"),
        subVec(vecCol, j, dsub).as("__v"))
      var cents: Array[Array[Double]] = sub.orderBy(col("__id")).limit(k)
        .select(col("__v")).collect().map(_.getSeq[Double](0).toArray)
      (0 until iterations).foreach { _ =>
        val sums = sub
          .withColumn("__cell", pqArgmin(col("__v"), cents))
          .groupBy(col("__cell"))
          .agg(count(lit(1)).as("n"),
            array((0 until dsub).map(i =>
              sum(element_at(col("__v"), i + 1)).as(s"s$i")): _*).as("sums"))
          .collect()
        val upd = cents.clone()
        sums.foreach { r =>
          val cell = r.getInt(0)
          val n = r.getLong(1).toDouble
          val sv = r.getSeq[Double](2)
          if (n > 0) upd(cell) = sv.map(x => (x / n).toFloat.toDouble).toArray
        }
        cents = upd
      }
      cents
    }.toArray
  }

  /** Encode every vector as its m centroid ids: ONE scan, m·k literal
    * distance expressions, no shuffle, no join — the compression pass.
    * `keepCols` pass through unchanged (the IVF-PQ build keeps `cell`).
    * @return (idCol, keepCols..., code array<int> of length m) */
  def pqEncode(embeddings: DataFrame, vecCol: String, idCol: String,
      codebook: Array[Array[Array[Double]]],
      keepCols: Seq[String] = Nil): DataFrame = {
    val m = codebook.length
    val dsub = codebook.head.head.length
    embeddings.select(col(idCol) +: keepCols.map(col) :+
      array(codebook.zipWithIndex.map { case (cents, j) =>
        pqArgmin(subVec(vecCol, j, dsub), cents)
      }: _*).as("code"): _*)
  }

  /** Asymmetric-distance top-k over PQ codes: the query's per-(subspace,
    * centroid) squared distances become an m×k lookup table of
    * floor-micro LONGs (driver metadata, broadcast as literals), and a
    * row's approximate distance is the EXACT integer sum of its m
    * looked-up entries — the scan touches only the code column, no
    * vector math per row, and ties (coarse codes collide) break
    * deterministically on id. Headroom: entries are d²·10⁶ — for
    * normalized embeddings d² ≤ 4, worlds below long range; vectors
    * with |x| ≈ 10⁶ components would not be (normalize first).
    * @return (idCol, adist_micro) — k rows, ascending distance */
  def pqSearch(codes: DataFrame, idCol: String,
      codebook: Array[Array[Array[Double]]], query: Array[Double],
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    codes.select(col(idCol), adistMicro(codebook, query).as("adist_micro"))
      .orderBy(col("adist_micro").asc, col(idCol).asc)
      .limit(k)
  }

  /** The asymmetric-distance expression behind [[pqSearch]]: the
    * query's per-(subspace, centroid) floor-micro squared distances
    * become an m×k literal lookup table, and a row's distance is the
    * exact integer sum of its m looked-up entries. */
  private def adistMicro(codebook: Array[Array[Array[Double]]],
      query: Array[Double]): Column = {
    val dsub = codebook.head.head.length
    val lut: Array[Array[Long]] = codebook.zipWithIndex.map { case (cents, j) =>
      cents.map { c =>
        // SAME association order as pqArgmin's fold: e1 + e2 + ... left
        val d2 = c.zipWithIndex.map { case (cv, t) =>
          val d = query(j * dsub + t) - cv; d * d
        }.reduceLeft(_ + _)
        math.floor(d2 * 1000000.0).toLong
      }
    }
    lut.zipWithIndex.map { case (row, j) =>
      element_at(array(row.map(lit(_)): _*),
        element_at(col("code"), j + 1) + 1)
    }.reduce(_ + _)
  }

  /** Driver-side cosine over float arrays (probe selection only — k
    * centroids, never data). */
  private def cosF(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < math.min(a.length, b.length)) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** x − coarse(cell) in double, as a CASE over the kCoarse centroid
    * literals — exact (float→double is exact, so is their difference). */
  private def residualExpr(vec: Column, cell: Column,
      coarse: Array[Array[Float]]): Column =
    coarse.zipWithIndex.map { case (c, i) =>
      (i, zip_with(vec,
        array(c.map(v => lit(v.toDouble)): _*),
        (x, cv) => x.cast("double") - cv))
    }.foldLeft(lit(null).cast("array<double>")) { case (acc, (i, e)) =>
      when(cell === i, e).otherwise(acc)
    }

  /** An IVF-PQ index: coarse centroids + shared residual PQ codebook
    * (both driver metadata — the centroid contract) and the code frame
    * (idCol, cell, code). At 100 TB the code frame is written
    * partitioned/bucketed by `cell`, so a probe scans only the probed
    * cells' files, and each row costs m LUT lookups — no vector math,
    * no shuffle. */
  final case class IvfPqIndex(coarse: Array[Array[Float]],
      codebook: Array[Array[Array[Double]]], codes: DataFrame)

  /** Build the production ANN-ladder rung above flat PQ ([[pqTrain]]):
    * coarse IVF quantizer (deterministic cosine k-means —
    * [[trainCentroids]]) + product quantization of the RESIDUALS
    * x − c(cell) with ONE codebook shared across cells (the standard
    * IVF-ADC layout: residuals concentrate near 0, so a shared
    * codebook quantizes them far better than raw vectors).
    * Training is fixed-iteration from deterministic seeds end to end,
    * so the whole build unrolls into an SQL oracle (q199).
    *
    * @param trainSample when set, BOTH quantizers train on this frame
    *                    instead of the full corpus (the 100 TB
    *                    practice: centroids/codebooks are driver
    *                    metadata sized by k, not by data — a bounded
    *                    sample trains them; only ENCODE scans the
    *                    corpus, one pass, no shuffle) */
  def ivfPqBuild(embeddings: DataFrame, vecCol: String, idCol: String,
      kCoarse: Int, coarseIters: Int, m: Int, kSub: Int,
      pqIters: Int, trainSample: Option[DataFrame] = None): IvfPqIndex = {
    val train = trainSample.getOrElse(embeddings)
    val coarse = trainCentroids(train, vecCol, kCoarse, coarseIters, idCol)
    def residOf(df: DataFrame): DataFrame =
      assignCells(df, vecCol, coarse)
        .select(col(idCol), col("cell"),
          residualExpr(col(vecCol), col("cell"), coarse).as("__res"))
    val cb = pqTrain(residOf(train), "__res", idCol, m, kSub, pqIters)
    IvfPqIndex(coarse, cb,
      pqEncode(residOf(embeddings), "__res", idCol, cb,
        keepCols = Seq("cell")))
  }

  /** Persist an IVF-PQ index's code frame PARTITIONED by cell — the
    * wired form of [[IvfPqIndex]]'s 100 TB contract (the same move
    * [[Index.writeBucketed]] makes for postings): a probe's
    * `cell IN (probed)` then prunes the SCAN to the probed cells'
    * files (FileSourceScan shows the cell partition filter), so
    * search reads nProbe/kCoarse of the codes instead of all of them.
    * Centroids/codebook stay driver metadata — only the code frame
    * persists. Returns the index re-pointed at the partitioned
    * layout. */
  def writeCodes(index: IvfPqIndex, path: String): IvfPqIndex = {
    val spark = index.codes.sparkSession
    index.codes.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(path)
    index.copy(codes = spark.read.parquet(path))
  }

  /** Asymmetric-distance top-k over an IVF-PQ index, probing the
    * nProbe coarse cells closest to the query (cosine desc, cell asc —
    * [[search]]'s probe order). Each probed cell gets its OWN lookup
    * table from the query's residual against that cell (the ADC
    * refinement flat PQ can't do); a row's distance is the exact
    * integer LUT sum for its cell, ties (cell collisions) break on id.
    * @param codes subset of the index's code frame to search (callers
    *              exclude the query row itself)
    * @return (idCol, cell, adist_micro) — k rows, ascending distance */
  def ivfPqSearch(codes: DataFrame, idCol: String, index: IvfPqIndex,
      query: Array[Float], k: Int, nProbe: Int): DataFrame = {
    require(k >= 1 && nProbe >= 1, s"bad search params k=$k nProbe=$nProbe")
    val probed = index.coarse.zipWithIndex
      .sortBy { case (c, _) => -cosF(c, query) }
      .take(nProbe).map(_._2)
    val adist = probed.map { cid =>
      val qr = query.map(_.toDouble).zip(index.coarse(cid))
        .map { case (x, c) => x - c.toDouble }
      (cid, adistMicro(index.codebook, qr))
    }.foldLeft(lit(null).cast("long")) { case (acc, (cid, e)) =>
      when(col("cell") === cid, e).otherwise(acc)
    }
    codes.filter(col("cell").isin(probed.toSeq: _*))
      .select(col(idCol), col("cell"), adist.as("adist_micro"))
      .orderBy(col("adist_micro").asc, col(idCol).asc)
      .limit(k)
  }

  /** Exact re-rank ("refine") rung over an ANN shortlist: join the
    * shortlist ids back to the raw vectors and re-order by the TRUE
    * cosine, reported in half-up basis points (the pricing scale the
    * q32/q200 gate family fixed). The standard third stage of IVF-ADC
    * search (Jégou/Douze/Schmid PAMI 2011 §V-A: rank an R ≫ k
    * shortlist from 8-bit codes, then re-rank just those R with exact
    * distances): the compressed scan does the corpus-sized work, the
    * refine pass touches only R raw vectors. At cluster scale the
    * shortlist is bounded driver-size output, so it BROADCASTS and the
    * corpus side is a shuffle-free semi-join; recall recovers toward
    * the probed-cells ceiling (refine cannot resurrect a neighbor
    * whose coarse cell was never probed — callers widen nProbe for
    * that, R for quantization error).
    *
    * @param shortlist candidate frame carrying `idCol` (e.g.
    *                  [[ivfPqSearch]] at k = R)
    * @param embeddings raw-vector corpus (idCol, vecCol)
    * @return (idCol, score_bp) — k rows, score desc, ties id asc */
  def refineExact(shortlist: DataFrame, embeddings: DataFrame,
      vecCol: String, idCol: String, query: Array[Float],
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    embeddings
      .join(broadcast(shortlist.select(col(idCol))), Seq(idCol), "left_semi")
      .select(col(idCol),
        floor(VectorFns.cosine(col(vecCol), VecOps.litF(query)) * 10000.0
          + 0.5).cast("long").as("score_bp"))
      .orderBy(col("score_bp").desc, col(idCol).asc)
      .limit(k)
  }

  /** Incremental IVF-PQ maintenance: encode `newRows` with the
    * index's FROZEN coarse centroids and codebook and append their
    * codes — no retraining, no touch of existing codes. This is the
    * production maintenance path at corpus scale: the codebooks are
    * driver metadata, so an append is one embarrassingly-parallel
    * encode scan of just the new rows (with [[writeCodes]]'s layout,
    * new files land under their cells' partitions), while a retrain
    * would re-encode the entire corpus. The price is codebook
    * staleness — centroids stop being the Lloyd fixpoint of the
    * grown corpus as the data distribution drifts; quantization error
    * (and q200-style recall) degrades gradually until a rebuild, the
    * same contract FAISS's `add` has. Spec-pinned: append(old, new)
    * is row-identical to a full encode with the same frozen training
    * set ([[ivfPqBuild]] with `trainSample` = the old corpus).
    *
    * @return the index with `codes` = old codes ∪ new codes */
  def ivfPqAppend(index: IvfPqIndex, newRows: DataFrame,
      vecCol: String, idCol: String): IvfPqIndex = {
    val resid = assignCells(newRows, vecCol, index.coarse)
      .select(col(idCol), col("cell"),
        residualExpr(col(vecCol), col("cell"), index.coarse).as("__res"))
    index.copy(codes = index.codes.unionByName(
      pqEncode(resid, "__res", idCol, index.codebook,
        keepCols = Seq("cell"))))
  }

  /** Binary-quantization (BQ) top-k: pack the sign bit of the first
    * `bits` components into ONE 64-bit code per vector
    * ([[VectorFns.signBucket]] — no training, no codebook) and rank by
    * Hamming distance, one XOR+popcount per comparison. The
    * training-free rung of the compression ladder: 8 bytes/vector
    * where float32 needs 4·d, so at corpus scale the BQ scan reads
    * 32× (d = 64) less than brute cosine — and like ADC it is a
    * SHORTLIST generator, its quantization error priced and then
    * bought back with [[refineExact]] over R ≫ k candidates. Callers
    * with a persisted index materialize the code column once
    * (`signBucket(vec, bits)`) instead of re-packing per query.
    * Deterministic in any engine: sign reads and integer popcounts,
    * no floating-point distance at all.
    *
    * @param bits code width, ≤ 64 and ≤ dim (a silent shortfall would
    *             zero-fill high bits and skew every distance)
    * @return (idCol, hamming) — k rows, distance asc, ties id asc */
  def binarySearch(embeddings: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], k: Int, bits: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")
    require(query.length >= bits,
      s"query has ${query.length} dims; needs >= $bits")
    val d = VecOps.vecDim(embeddings, vecCol)
    require(d >= bits, s"vectors have $d dims; bits = $bits needs >= that")
    val qCode = query.take(bits).zipWithIndex
      .collect { case (x, i) if x >= 0 => 1L << i }
      .foldLeft(0L)(_ | _)
    embeddings.select(col(idCol),
        VectorFns.hamming(VectorFns.signBucket(col(vecCol), bits),
          lit(qCode)).cast("long").as("hamming"))
      .orderBy(col("hamming").asc, col(idCol).asc)
      .limit(k)
  }
}
