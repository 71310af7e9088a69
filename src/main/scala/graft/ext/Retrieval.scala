package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hybrid-retrieval fusion — the glue between the lexical ([[Index]]
  * BM25) and vector (brute/LSH/IVF ANN) rankers: reciprocal rank
  * fusion (Cormack/Clarke/Buettcher, SIGIR 2009), the
  * score-distribution-free combiner RAG stacks default to because BM25
  * nanos and cosine basis points share no scale.
  *
  * RRF(doc) = Σ_lists 1/(k₀ + rank(doc)) — here in exact NANO units:
  * `10⁹ div (k₀ + rank)` per list (exact positive integer division on
  * every engine), summed as BIGINT, so fused scores are bit-identical
  * cross-engine and aggregation-order-proof (the q111 doctrine).
  *
  * Scale: inputs are ALREADY-bounded top-k ranking frames (each ranker
  * bounds its own output — TakeOrderedAndProject for BM25, the ANN
  * ladder for vectors), so fusion operates on lists-of-k rows: the
  * rank window, union, and final agg all touch ≤ Σkᵢ rows regardless
  * of corpus size. The corpus-sized work lives inside the rankers.
  */
object Retrieval {

  /** Fuse ranked lists by RRF. Each input frame must carry `idCol` and
    * `scoreCols` (score desc = better); ranks are assigned here
    * 1-based in (score desc, id asc) order — deterministic ties — so
    * callers pass RAW ranker output without pre-ranking.
    *
    * @param rankings  (name, frame) per ranker; the name labels the
    *                  per-list rank column `rank_<name>` in the output
    * @param k0        the RRF smoothing constant (60 in the paper)
    * @return (id, rrf_nano, n_lists, rank_<name>...) sorted best-first
    *         (rrf_nano desc, id asc); docs appearing in ANY list appear
    *         once, absent ranks are null
    */
  def rrfFuse(rankings: Seq[(String, DataFrame)], idCol: String,
      scoreCol: String, k0: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k0 >= 0, s"k0 must be >= 0, got $k0")
    val contribs = rankings.map { case (name, df) =>
      // bounded input ⇒ the global rank window is a lists-of-k sort,
      // not a corpus sort (contract documented above)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col(scoreCol).desc, col(idCol).asc)
      df.select(col(idCol).as("id"), col(scoreCol))
        .withColumn("rank", row_number().over(w).cast("long"))
        .select(col("id"), lit(name).as("list"), col("rank"),
          expr(s"1000000000 div ($k0 + rank)").as("c"))
    }
    val aggCols = Seq(count(lit(1)).as("n_lists")) ++
      rankings.map { case (name, _) =>
        max(when(col("list") === name, col("rank"))).as(s"rank_$name")
      }
    contribs.reduce(_ unionByName _)
      .groupBy(col("id"))
      .agg(sum(col("c")).as("rrf_nano"), aggCols: _*)
      .orderBy(col("rrf_nano").desc, col("id").asc)
  }

  /** nDCG@k — the graded-relevance quality of a ranking against a
    * judgment frame (id, rel), rel a small integer grade. Exponential
    * gain (2^rel − 1), ln-ratio log2 discount, every per-rank term
    * floored to micro units so the sums are BIGINT-exact (the q111
    * doctrine; ties in both the ranking and the ideal ordering break
    * id-ascending, so the metric is bit-stable cross-engine).
    *
    * Scale: the ranking is an ALREADY-bounded top-k frame; the ideal
    * ordering takes top-k of the judgments by (rel desc, id asc) —
    * TakeOrderedAndProject over the judgment frame, never a global
    * sort. Everything after runs on ≤ 2k rows.
    *
    * Integer headroom: gains are 2^rel — rel is a small GRADE (the
    * usual 0–4 scale; beyond rel ≈ 40 the 2^rel·10⁶ micro terms leave
    * long range). Grade, don't dump raw click counts in.
    *
    * @param ranking  bounded ranked list carrying `idCol` + `scoreCol`
    * @param judgments (idCol, relCol) graded relevance; missing ids
    *                  score rel = 0
    * @return one row (dcg_micro, idcg_micro, ndcg_ppm) —
    *         ndcg_ppm = dcg·10⁶ div idcg, 0 when idcg = 0
    */
  def ndcg(ranking: DataFrame, judgments: DataFrame, idCol: String,
      scoreCol: String, relCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    // term = floor((2^rel − 1) · ln2 / ln(rank+1) · 10⁶). When rank+1
    // is a power of two the ratio ln2/ln(rank+1) is EXACTLY 1/j — and
    // the scaled term sits exactly ON an integer boundary (rel=1,
    // rank=3 → 500000.0), where a 1-ulp libm divergence flips the
    // floor. Those ranks (1, 3, 7, 15, …) therefore compute in PURE
    // INTEGER arithmetic — (2^rel−1)·10⁶ div j, no libm at all, exact
    // at any rel within long range — and only the genuinely-irrational
    // ranks take the double path, whose values the guard-band spec
    // proves sit ≥ 1.4·10⁻³ from every boundary (rel ≤ 5, k ≤ 20; ulp
    // divergence at this magnitude is ~10⁻⁹ — six orders of margin).
    def term(rel: Column, rank: Column): Column = {
      val gain = (pow(lit(2.0), rel.cast("double")) - lit(1.0)).cast("long")
      val j = round(log2(rank.cast("double") + lit(1.0))).cast("long")
      when(((rank + 1).bitwiseAND(rank)) === 0L,
        call_function("div", gain * lit(1000000L), j))
        .otherwise(floor((pow(lit(2.0), rel.cast("double")) - lit(1.0))
          * lit(math.log(2.0)) / log(rank.cast("double") + lit(1.0))
          * lit(1000000.0)).cast("long"))
    }
    val ranked = ranking
      .withColumn("__rank", row_number().over(w).cast("long"))
      .filter(col("__rank") <= k)
      .join(judgments.select(col(idCol), col(relCol).as("__rel")),
        Seq(idCol), "left")
      .select(term(coalesce(col("__rel"), lit(0L)), col("__rank")).as("t"))
      .agg(coalesce(sum(col("t")), lit(0L)).as("dcg_micro"))
    val wIdeal = org.apache.spark.sql.expressions.Window
      .orderBy(col("__rel").desc, col(idCol).asc)
    val ideal = judgments
      .select(col(idCol), col(relCol).as("__rel"))
      .orderBy(col("__rel").desc, col(idCol).asc).limit(k)
      .withColumn("__rank", row_number().over(wIdeal).cast("long"))
      .select(term(col("__rel"), col("__rank")).as("t"))
      .agg(coalesce(sum(col("t")), lit(0L)).as("idcg_micro"))
    ranked.crossJoin(ideal)
      .select(col("dcg_micro"), col("idcg_micro"),
        when(col("idcg_micro") > 0,
          expr("dcg_micro * 1000000 div idcg_micro"))
          .otherwise(lit(0L)).as("ndcg_ppm"))
  }

  /** Recall@k of an approximate ranking against the exact one: the
    * fraction of the exact top-k the approximate top-k recovered, in
    * ppm (floored) — the standard ANN-ladder quality gate ("how much
    * did the LSH/IVF shortcut cost?"). Both inputs are bounded lists;
    * ranks assigned (score desc, id asc) as everywhere in this shelf.
    *
    * @return one row (n_exact, n_common, recall_ppm) — n_exact ≤ k
    *         when the exact list is short; recall_ppm = 0 on empty
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, idCol: String,
      scoreCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def top(df: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col(scoreCol).desc, col(idCol).asc)
      df.select(col(idCol).as("id"), col(scoreCol))
        .withColumn("__r", row_number().over(w))
        .filter(col("__r") <= k).select(col("id"))
    }
    top(exact)
      .join(top(approx).withColumn("__hit", lit(1)), Seq("id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum(col("__hit")), lit(0L)).cast("long").as("n_common"))
      .select(col("n_exact"), col("n_common"),
        when(col("n_exact") > 0,
          expr("n_common * 1000000 div n_exact")).otherwise(lit(0L))
          .as("recall_ppm"))
  }

  /** Rank-biased overlap at depth k (Webber/Moffat/Zobel 2010,
    * truncated sum): RBO@k = (1−p)·Σ_{d=1..k} p^(d−1)·|A_d ∩ B_d|/d,
    * the top-weighted agreement between two rankings — the drift
    * monitor for "did the index rebuild / ranker change reorder what
    * users actually see".
    *
    * Computed EXACTLY: with p = pNum/pDen, the d-th term is
    * overlap·(pDen−pNum)·pNum^(d−1)·10⁹ div (pDen^d · d) — pure BIGINT
    * (the powers are a k-row driver-built literal frame; a BigInt
    * require rejects any (k, p) whose worst term would exceed long
    * range — k ≤ 10 at the default p = 9/10). No doubles anywhere, so
    * no cross-engine pow() ulp risk.
    *
    * Scale: both inputs are bounded top-k lists; per-id max-rank and
    * the k-row depth grid are lists-of-k work.
    *
    * @return one row (overlap_at_k, rbo_nano)
    */
  def rbo(a: DataFrame, b: DataFrame, idCol: String, scoreCol: String,
      k: Int = 10, pNum: Int = 9, pDen: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(pNum >= 1 && pNum < pDen, s"need 0 < pNum/pDen < 1")
    // exact-integer guarantee: the largest numerator k·(pDen−pNum)·
    // pNum^(k−1)·10⁹ and denominator pDen^k·k must fit a long — checked
    // in BigInt so an oversized p or k fails HERE, not by silent
    // BigInt.toLong wrap on the driver or a mid-job ANSI overflow
    val maxNum = BigInt(k) * (pDen - pNum) * BigInt(pNum).pow(k - 1) *
      BigInt(1000000000)
    val maxDen = BigInt(pDen).pow(k) * k
    require(maxNum <= Long.MaxValue && maxDen <= Long.MaxValue,
      s"k=$k with p=$pNum/$pDen overflows the exact-integer scheme " +
        s"(needs $maxNum/$maxDen); lower k or use a smaller-denominator p")
    val spark = a.sparkSession
    import spark.implicits._
    def ranks(df: DataFrame, name: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col(scoreCol).desc, col(idCol).asc)
      df.select(col(idCol).as("id"), col(scoreCol))
        .withColumn(name, row_number().over(w).cast("long"))
        .filter(col(name) <= k).select(col("id"), col(name))
    }
    // both-lists ids with the depth at which they are in BOTH prefixes
    val joint = ranks(a, "ra").join(ranks(b, "rb"), "id")
      .select(greatest(col("ra"), col("rb")).as("m"))
    val depths = (1 to k).map { d =>
      (d.toLong, BigInt(pNum).pow(d - 1).toLong, BigInt(pDen).pow(d).toLong)
    }.toDF("d", "pnum_pow", "pden_pow")
    depths
      .join(joint, col("m") <= col("d"), "left")
      .groupBy(col("d"), col("pnum_pow"), col("pden_pow"))
      .agg(count(col("m")).as("overlap"))
      .select(col("d"), col("overlap"),
        expr(s"overlap * ${pDen - pNum} * pnum_pow * 1000000000" +
          s" div (pden_pow * d)").as("t"),
        when(col("d") === k, col("overlap")).as("ok"))
      .agg(sum(col("t")).as("rbo_nano"), max(col("ok")).as("overlap_at_k"))
      .select(col("overlap_at_k"), col("rbo_nano"))
  }

  /** Maximal marginal relevance (Carbonell/Goldstein, SIGIR 1998) —
    * greedy diversified selection from a bounded candidate list: pick
    * argmax rel first, then repeatedly the candidate maximizing
    * λ·rel − (1−λ)·max-sim-to-selected — the RAG-stack de-duplicator
    * for "top-k results that aren't five copies of the same passage".
    *
    * Exact integers throughout: with λ = lamNum/lamDen the reported
    * score is the λDen-scaled `lamNum·rel − (lamDen−lamNum)·maxsim`
    * (same argmax as true MMR; rel and sim must share a unit — e.g.
    * both cosine basis points), ties break id-ascending. The greedy
    * loop is the [[TrainPrep.greedyCover]] shape: per round one
    * anti-join pool, one keyed max over sims TO THE SELECTED SET, one
    * 1-row argmax — every frame bounded by the candidate list, winner
    * frames pinned so lineage stays shallow.
    *
    * @param candidates (idCol, relCol) — an ALREADY-bounded list
    * @param sims (aCol, bCol, simCol) pairwise similarities among
    *             candidates (either direction; symmetrized here, and
    *             duplicate/bidirectional entries collapse to their MAX
    *             before aggregation so the sparse-sims guard counts
    *             distinct chosen neighbors, not input rows; absent
    *             pairs read sim = 0). Generate this frame with
    *             [[candidateSims]] rather than hand-rolling an
    *             all-pairs join.
    * @return (rank, id, rel, maxsim, mmr_scaled) — k rows in
    *         selection order
    */
  def mmrSelect(candidates: DataFrame, sims: DataFrame,
      idCol: String, relCol: String,
      aCol: String = "a", bCol: String = "b", simCol: String = "sim",
      k: Int = 10, lamNum: Int = 7, lamDen: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lamNum >= 1 && lamNum <= lamDen, s"need 0 < lamNum/lamDen <= 1")
    val candSel = candidates.select(col(idCol).as("id"), col(relCol).as("rel"))
    // dedupe AFTER symmetrizing: a pair supplied in both directions (or
    // twice) would otherwise double npres past nChosen and let a
    // negative recorded max-sim slip past the absent=0 floor below
    val symSel = sims.select(col(aCol).as("x"), col(bCol).as("y"),
        col(simCol).as("sim"))
      .unionByName(sims.select(col(bCol).as("x"), col(aCol).as("y"),
        col(simCol).as("sim")))
      .groupBy(col("x"), col("y")).agg(max(col("sim")).as("sim"))
    // Driver-loop greedy (r18, the Graph fixpoint pattern): MMR pools
    // are rerank-sized by construction (a top-N list), so under the
    // bound the whole greedy runs on the collected (id, rel) and
    // symmetrized sims — the k distributed rounds (pool anti-join +
    // score join + 1-row argmax materialize + probe each) collapse to
    // zero jobs. Arithmetic replicated exactly, including the
    // absent-pair = 0 floor and the npres < nChosen negative-sim
    // guard; integer (long) score domain only.
    val mmrBound = candidates.sparkSession.conf
      .get("graft.mmrDriverMaxCandidates", "4096").toLong
    val longTyped = Seq("id", "rel").forall(c =>
      candSel.schema(c).dataType == org.apache.spark.sql.types.LongType) &&
      symSel.schema("sim").dataType == org.apache.spark.sql.types.LongType
    // r19: the candidate bound alone does not bound the sims collect —
    // a dense pool at the default bound is bound² ≈ 16.7M symmetrized
    // pairs (a GB-class driver map). The sym frame is collected under
    // its OWN bound, min(bound², graft.mmrDriverMaxSims); beyond either
    // bound the distributed greedy below runs unchanged. (bound² is
    // capped where it would overflow: no collect exceeds Int.MaxValue.)
    val maxSims = math.min(
      if (mmrBound > Int.MaxValue) Long.MaxValue else mmrBound * mmrBound,
      candidates.sparkSession.conf
        .get("graft.mmrDriverMaxSims", "2097152").toLong)
    val driverInput =
      if (!longTyped) None
      else ScaleGate.collectUnder(candSel, mmrBound).flatMap(c =>
        ScaleGate.collectUnder(symSel, maxSims).map(c -> _))
    driverInput.foreach { case (candCollected, symCollected) =>
      val sess = candidates.sparkSession
      val candRows = candCollected.map(r => (r.getLong(0), r.getLong(1)))
      val simMap = new java.util.HashMap[(Long, Long), java.lang.Long]()
      symCollected.foreach(r =>
        simMap.put((r.getLong(0), r.getLong(1)), r.getLong(2)))
      var chosen = List.empty[Long]
      var outRows = Seq.empty[(Long, Long, Long, Long, Long)]
      var r = 1
      while (r <= k && chosen.size < candRows.length) {
        val chosenSet = chosen.toSet
        var best: (Long, Long, Long, Long) = null // (id, rel, maxsim, score)
        candRows.foreach { case (id, rel) =>
          if (!chosenSet.contains(id)) {
            var ms = Long.MinValue
            var npres = 0
            chosen.foreach { y =>
              val s0 = simMap.get((id, y))
              if (s0 != null) { npres += 1; if (s0 > ms) ms = s0 }
            }
            val maxsim =
              if (npres == 0) 0L
              else if (npres < chosen.size) math.max(ms, 0L)
              else ms
            val score = lamNum.toLong * rel - (lamDen - lamNum).toLong * maxsim
            if (best == null || score > best._4 ||
                (score == best._4 && id < best._1))
              best = (id, rel, maxsim, score)
          }
        }
        outRows = outRows :+ ((r.toLong, best._1, best._2, best._3, best._4))
        chosen = best._1 :: chosen
        r += 1
      }
      import sess.implicits._
      return outRows.toDF("rank", "id", "rel", "maxsim", "mmr_scaled")
    }
    val cand = ScaleGate.materialize(candSel)
    val sym = ScaleGate.materialize(symSel)
    var out = Seq.empty[DataFrame]
    var chosen: Option[DataFrame] = None
    var nChosen = 0
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      val pool = chosen.fold(cand)(ids =>
        cand.join(ids, col("id") === col("cid"), "left_anti"))
      val scored = chosen match {
        case None =>
          pool.select(col("id"), col("rel"), lit(0L).as("maxsim"),
            (lit(lamNum.toLong) * col("rel")).as("score"))
        case Some(ids) =>
          // "absent pairs read sim = 0": the max runs over |chosen|
          // values, absent ones zero — so when FEWER than nChosen pairs
          // are recorded for a candidate, a 0 participates and a
          // negative recorded max cannot leak through (sparse sims
          // with negative values would otherwise inflate the score)
          val msAdj = when(col("npres") < lit(nChosen.toLong),
            greatest(col("ms"), lit(0L))).otherwise(col("ms"))
          pool
            .join(sym.join(ids, col("y") === col("cid"), "left_semi")
              .groupBy(col("x")).agg(max(col("sim")).as("ms"),
                count(lit(1)).as("npres")),
              col("id") === col("x"), "left")
            .select(col("id"), col("rel"),
              coalesce(msAdj, lit(0L)).as("maxsim"),
              (lit(lamNum.toLong) * col("rel") -
                lit((lamDen - lamNum).toLong) * coalesce(msAdj, lit(0L)))
                .as("score"))
      }
      val win = ScaleGate.materialize(
        scored.orderBy(col("score").desc, col("id").asc).limit(1)
          .select(lit(r.toLong).as("rank"), col("id"), col("rel"),
            col("maxsim"), col("score").as("mmr_scaled")))
      if (win.isEmpty) exhausted = true
      else {
        out = out :+ win
        val ids = chosen.fold(win.select(col("id").as("cid")))(
          _.unionByName(win.select(col("id").as("cid"))))
        chosen = Some(ids)
        nChosen += 1
      }
      r += 1
    }
    if (out.isEmpty) cand.limit(0)
      .select(lit(0L).as("rank"), col("id"), col("rel"),
        lit(0L).as("maxsim"), lit(0L).as("mmr_scaled"))
    else out.reduce(_ unionByName _)
  }

  /** The pairwise-sims frame [[mmrSelect]] consumes, generated through
    * the operator-layer banded blocker
    * ([[VectorIndex.bandedScoredPairs]]) so no caller hand-rolls an
    * all-pairs self-join: candidates semi-join their embeddings, the
    * blocker emits banded candidate pairs with round-half-up
    * basis-point cosine scores, and pairs the blocker misses read
    * sim = 0 downstream (mmrSelect's absent-pair contract) — the same
    * recall trade every pairwise read-out in this library makes,
    * priced by bands/bits.
    *
    * For a small k-sized candidate list the blocking is belt-and-
    * braces (k² pairs are affordable); its value is that the SAME call
    * stays safe when the candidate list is a 100k-row rerank pool.
    *
    * @param candidates bounded list carrying `candIdCol`
    * @return (a, b, sim) — a < b, sim in basis points
    */
  def candidateSims(embeddings: DataFrame, candidates: DataFrame,
      vecCol: String, idCol: String, candIdCol: String = "id",
      bits: Int = 4, bands: Int = 2,
      bucketCap: Option[Long] = None): DataFrame =
    VectorIndex.bandedScoredPairs(
      embeddings.join(candidates.select(col(candIdCol).as(idCol)),
        Seq(idCol), "left_semi"),
      vecCol, idCol, bits, bands, bucketCap)
      .select(col("ia").as("a"), col("ib").as("b"), col("cos_bp").as("sim"))
}
