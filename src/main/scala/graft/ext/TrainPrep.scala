package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Training-data preparation operators, parametrized — the reusable
  * library surface behind the oracle-gated catalog entries (q121
  * chunking, q122 temperature mixing, q86 sequence packing) and the
  * `chunk` / `mix` / `pack` CLI subcommands.
  *
  * All three are one-pass declarative plans:
  *  - [[chunk]]: tokenize once + explode window starts — per-row work,
  *    no shuffle, linear at any corpus size;
  *  - [[temperatureMix]]: one keyed agg + a broadcast 1-row join;
  *  - [[pack]]: one window keyed by the shard column (never a global
  *    window — the per-source key is what keeps a 100 TB corpus from
  *    concentrating on one task).
  */
object TrainPrep {

  /** Overlapping token windows per document (q121 generalized):
    * (id, chunk_idx, start_token, n_tokens, chunk_hash, chunk_text).
    * `stride` < `chunkSize` gives overlap; start positions stop at
    * n - overlap so tails are covered without fully-contained
    * duplicate windows. */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got stride=$stride size=$chunkSize")
    val overlap = chunkSize - stride
    val chunkToks = slice(col("toks"), col("start"), lit(chunkSize))
    docs
      .withColumn("toks", TextFns.tokens(col(textCol)))
      .withColumn("start",
        explode(sequence(lit(1),
          greatest(size(col("toks")) - overlap, lit(1)), lit(stride))))
      .select(
        col(idCol),
        expr(s"(start - 1) div $stride").as("chunk_idx"),
        col("start").cast("long").as("start_token"),
        size(chunkToks).cast("long").as("n_tokens"),
        md5(array_join(chunkToks, " ")).as("chunk_hash"),
        array_join(chunkToks, " ").as("chunk_text"))
  }

  /** Per-source temperature resampling weights (q122 generalized):
    * share_ppm of total char mass and p^(1/T) weight in ppm relative
    * to the largest source. `invTemp` = 1/T (0.5 = the common T=2). */
  def temperatureMix(docs: DataFrame, sourceCol: String, textCol: String,
      invTemp: Double = 0.5): DataFrame = {
    val per = docs.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col(textCol))).as("chars"))
    val tot = per.agg(sum(col("chars")).as("total_chars"),
      max(col("chars")).as("chars_max"))
    per.crossJoin(broadcast(tot))
      .select(
        col(sourceCol), col("n_docs"), col("chars"),
        expr("chars * 1000000 div total_chars").as("share_ppm"),
        floor(pow(col("chars").cast("double") / col("chars_max"),
          lit(invTemp)) * 1e6).as("weight_ppm"))
  }

  /** Fixed token-budget batch assignment (q86 generalized): documents
    * in id order within each shard go to batch cum_tokens div cap.
    * Returns one row per doc with its batch id — join back or group to
    * taste.
    *
    * The per-shard cumulative sum runs through
    * [[graft.operators.GlobalRank.withKeyedPrefixSum]] (range-partition
    * on (shard, id) + broadcast per-segment offsets), NOT
    * `sum OVER (PARTITION BY shard ORDER BY id)`: the shard column is
    * low-cardinality by design (a handful of corpus sources), so the
    * windowed plan would sort each source's ENTIRE extent in one task —
    * at 100 TB with 4 sources, 4 tasks would carry the whole corpus.
    * Results are row-identical to the windowed form (spec-pinned). */
  def pack(docs: DataFrame, idCol: String, shardCol: String,
      textCol: String, tokenCap: Int = 512): DataFrame = {
    require(tokenCap > 0, s"tokenCap must be positive, got $tokenCap")
    val base = docs
      .select(col(idCol), col(shardCol),
        TextFns.approxBpeTokenCount(col(textCol)).as("toks"))
    graft.operators.GlobalRank
      .withKeyedPrefixSum(base, Seq(shardCol), Seq(col(idCol)), "toks")
      .withColumn("batch_id", expr(s"cum_before div $tokenCap"))
      .select(col(idCol), col(shardCol), col("toks"), col("batch_id"))
  }

  /** Greedy max-coverage selection (q153 generalized): each round picks
    * the item covering the most yet-UNCOVERED elements (ties: smallest
    * id), then adds its elements to the covered set — the classic
    * (1−1/e) greedy for "smallest subset spanning the corpus's
    * element space", a data-efficiency curation step. Runs a
    * parametrized number of rounds with EARLY STOP once nothing new
    * can be covered (the fixed-depth query form can't notice
    * exhaustion).
    *
    * Fully declarative — no driver collect: each round's winner is a
    * 1-row frame, exclusions are anti joins against the accumulated
    * winner set, the covered set a semi join + distinct. Round state
    * is pinned per round ([[ScaleGate.materialize]]) so plans don't
    * grow with rounds — the [[TextDedup.connectedComponents]] pattern.
    *
    * @param pairs (id, element) coverage relation; duplicates fine
    *              (distinct applied)
    * @return (round, id, gain), one row per completed round — fewer
    *         than `rounds` rows when the element space is exhausted
    */
  def greedyCover(pairs: DataFrame, idCol: String, elemCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val tk = ScaleGate.materialize(
      pairs.select(col(idCol).as("id"), col(elemCol).as("elem")).distinct())
    var out = Seq.empty[DataFrame]
    var chosenIds: Option[DataFrame] = None
    var covered: Option[DataFrame] = None
    var exhausted = false
    var r = 1
    while (r <= rounds && !exhausted) {
      val pool = (chosenIds, covered) match {
        case (Some(ids), Some(cov)) =>
          tk.join(ids, Seq("id"), "left_anti")
            .join(cov, Seq("elem"), "left_anti")
        case _ => tk
      }
      val win = ScaleGate.materialize(
        pool.groupBy(col("id")).agg(count(lit(1)).as("gain"))
          .orderBy(col("gain").desc, col("id")).limit(1)
          .select(lit(r.toLong).as("round"), col("id"), col("gain")))
      if (win.isEmpty) exhausted = true
      else {
        out = out :+ win
        // union of ≤`rounds` ALREADY-PINNED 1-row winner frames —
        // lineage stays shallow without its own materialization
        val ids = chosenIds.fold(win.select(col("id")))(
          _.unionByName(win.select(col("id"))))
        chosenIds = Some(ids)
        covered = Some(ScaleGate.materialize(
          tk.join(ids, Seq("id"), "left_semi").select(col("elem")).distinct()))
      }
      r += 1
    }
    if (out.isEmpty) tk.limit(0)
      .select(lit(0L).as("round"), col("id"), lit(0L).as("gain"))
    else out.reduce(_ unionByName _)
  }

  /** Deterministic weighted sampling without replacement, k per group —
    * Efraimidis–Spirakis (A-ES) reservoir sampling made ENGINE-PORTABLE
    * by the integer-weight identity: the A-ES key u^(1/w) has CDF x^w,
    * and so does the MAX of w independent uniforms — so for integer
    * weights the key is `max over j in 1..w of H(id, j)` where H is the
    * portable md5 64-bit-prefix uniform ([[graft.operators.HashSplit]]'s
    * digest). No transcendental functions, no float keys: every engine
    * that computes md5 draws the identical sample, and the selection
    * probability is exactly the weighted-without-replacement one.
    *
    * Cost: Σw expanded rows (bounded by maxWeight × n — callers cap the
    * weight), one keyed agg, one keyed top-k window. No global window,
    * no shuffle beyond the group key. Rows with weight < 1 are never
    * sampled (dropped before expansion).
    *
    * @param weightCol integer column, weight >= 1 (cap it upstream —
    *                  the expansion factor is the mean weight)
    * @return (groupCol, rk, idCol, weightCol, key) — rk in 1..k by
    *         descending key, ties broken by ascending id
    */
  def weightedSample(df: DataFrame, idCol: String, groupCol: String,
      weightCol: String, k: Int): DataFrame = {
    require(k >= 1, s"sample size must be >= 1, got $k")
    val expanded = df
      .select(col(idCol).as("__id"), col(groupCol).as("__grp"),
        col(weightCol).cast("long").as("__w"))
      .filter(col("__w") >= 1)
      .withColumn("__j", explode(expr("sequence(1, __w)")))
      .withColumn("__h",
        conv(substring(md5(concat(col("__id").cast("string"), lit("#"),
          col("__j").cast("string"))), 1, 8), 16, 10).cast("long"))
      .groupBy(col("__grp"), col("__id"), col("__w"))
      .agg(max(col("__h")).as("key"))
    // salted two-phase top-k: groupCol is LOW-cardinality (corpus
    // sources), so a bare PARTITION BY window would sort each group's
    // whole extent in one task — the GroupedTopK scaladoc pathology
    graft.operators.GroupedTopK
      .topK(expanded, Seq("__grp"),
        Seq(col("key").desc, col("__id").asc), k, "rk")
      .select(col("__grp").as(groupCol), col("rk"), col("__id").as(idCol),
        col("__w").as(weightCol), col("key"))
  }

  /** Iterative proportional fitting (raking): find per-cell sampling
    * weights whose marginals along EVERY dimension match the given
    * target distributions — the data-mixing solver behind "rebalance
    * the corpus to 30% code / uniform languages" asks, where cells are
    * the cross-classification (e.g. lang × source) and the classic IPF
    * loop alternately rescales each dimension until the marginals
    * settle (Deming–Stephan).
    *
    * INTEGER-EXACT variant: weights live in ppm (parts-per-million of
    * the corpus), every rescale is `w · target ÷ marginal` in BIGINT
    * floor arithmetic, and marginal sums are integer sums — so the
    * fixpoint trajectory is bit-identical on any engine and any
    * partitioning (the q88/q162 doctrine; float IPF would diverge in
    * the last ulp under Spark's nondeterministic partial-sum order).
    * Truncation error per rescale is < 1 ppm per cell — the spec pins
    * achieved-vs-target marginal gaps to ≤ #cells ppm.
    *
    * Scale shape: the loop runs over the CELL frame (distinct dim-value
    * combinations — bounded by the product of dim cardinalities, tiny
    * next to the corpus), built with ONE keyed count over the rows.
    * Per half-round: one keyed agg (marginal) + one keyed join
    * (rescale) — dimension-value keyed, never row-keyed, no window.
    * Zero-target or zero-marginal values annihilate their cells (w=0)
    * instead of dividing by zero.
    *
    * @param rows      corpus rows (one per item)
    * @param dims      dimension columns (e.g. Seq("lang", "source"))
    * @param targets   one DataFrame per dim: (value, target_ppm) —
    *                  values absent from a target get weight 0
    * @param rounds    full IPF rounds (each rescales every dim once)
    * @return cell frame: dims*, n (row count), w_ppm (fitted weight)
    */
  def rake(rows: DataFrame, dims: Seq[String], targets: Seq[DataFrame],
      rounds: Int): DataFrame = {
    require(dims.nonEmpty && dims.length == targets.length,
      s"need one target frame per dim, got ${dims.length} dims / " +
        s"${targets.length} targets")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val n = rows.groupBy(dims.map(col): _*).agg(count(lit(1)).as("n"))
    val total = n.agg(sum(col("n")).as("__N"))
    var cells = ScaleGate.materialize(
      n.crossJoin(broadcast(total))
        .withColumn("w_ppm", expr("n * 1000000 div __N"))
        .drop("__N"))
    val tgt = dims.zip(targets).map { case (d, t) =>
      d -> t.select(col(t.columns.head).as(d),
        col(t.columns(1)).cast("long").as("__tgt"))
    }.toMap
    for (_ <- 1 to rounds; d <- dims) {
      val marg = cells.groupBy(col(d)).agg(sum(col("w_ppm")).as("__marg"))
      cells = ScaleGate.materialize(
        cells
          .join(marg, d)
          .join(tgt(d), Seq(d), "left")
          .withColumn("w_ppm",
            when(col("__marg") > 0 && col("__tgt").isNotNull,
              expr("w_ppm * __tgt div __marg")).otherwise(lit(0L)))
          .drop("__marg", "__tgt"))
    }
    cells
  }

  /** Byte-pair-encoding merge training (q175): learn `rounds` merges
    * from a (word, count) frequency frame — the tokenizer-training
    * stage of a data pipeline, run on the corpus the other operators
    * curated. Classic BPE (Sennrich et al., ACL 2016) trains on the
    * word-frequency TABLE, not the corpus: the iteration state is the
    * BOUNDED vocab frame (one row per distinct word), so each round is
    * a vocab-sized pair agg + a broadcast 1-row merge apply — corpus
    * size only ever enters through the one up-front word-count agg the
    * CALLER does. That is the entire 100 TB story: rounds cost
    * O(vocab), not O(corpus).
    *
    * Determinism: the winning pair is argmax by (count DESC, pair ASC)
    * via `min(struct(-cnt, pair))` — a map-side-combinable two-level
    * agg (the labelPropagation argmax shape), no window, no
    * order-dependence. The merge apply is `replace(' '||sym||' ',
    * ' a b ', ' ab ')` — leftmost NON-OVERLAPPING scan, the contract
    * both Spark's and DuckDB's `replace` share, so a run "a a a"
    * merges ⌊n/2⌋ pairs in one round (reference BPE implementations
    * differ on runs too; what matters here is that the rule is
    * deterministic and engine-portable). Symbols are space-joined, so
    * a merged symbol is the plain concatenation of its parts.
    *
    * Round state is pinned per round ([[ScaleGate.materialize]]) so
    * plans don't grow with rounds — the [[greedyCover]] pattern.
    *
    * @param words (wordCol, cntCol) distinct-word frequencies; words
    *              must not contain spaces (they are the symbol
    *              separator)
    * @return (merges, encoded): merges = one row per round
    *         (round, pair, merged, pair_cnt, vocab_after,
    *         tokens_after) — pair/merged NULL on a degenerate round
    *         (no adjacent pair left, vocab fully merged); encoded =
    *         (sym, cnt) the word frame after all merges
    */
  def bpeMerges(words: DataFrame, wordCol: String, cntCol: String,
      rounds: Int): (DataFrame, DataFrame) = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var w = ScaleGate.materialize(
      words.select(
        concat_ws(" ", split(col(wordCol), "")).as("sym"),
        col(cntCol).cast("long").as("cnt")))
    var out = Seq.empty[DataFrame]
    for (r <- 1 to rounds) {
      val best = ScaleGate.materialize(w
        .filter(instr(col("sym"), " ") > 0)
        .select(col("cnt"), split(col("sym"), " ").as("s"))
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(s) - 1), " +
            "i -> concat(element_at(s, i), ' ', element_at(s, i + 1)))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("pcnt"))
        .agg(min(struct((-col("pcnt")).as("neg"), col("pair").as("pair")))
          .as("m"))
        .select(
          col("m.pair").as("pair"),
          expr("replace(m.pair, ' ', '')").as("merged"),
          (-col("m.neg")).as("pair_cnt")))
      w = ScaleGate.materialize(
        w.crossJoin(broadcast(best))
          .withColumn("sym",
            when(col("pair").isNull, col("sym")).otherwise(trim(expr(
              "replace(concat(' ', sym, ' '), concat(' ', pair, ' '), " +
                "concat(' ', merged, ' '))"))))
          .drop("pair", "merged", "pair_cnt"))
      val vocab = w
        .select(explode(split(col("sym"), " ")).as("symb"))
        .agg(countDistinct(col("symb")).as("vocab_after"))
      val toks = w.agg(
        sum(expr("cnt * size(split(sym, ' '))")).as("tokens_after"))
      out = out :+ best
        .select(lit(r.toLong).as("round"), col("pair"), col("merged"),
          col("pair_cnt"))
        .crossJoin(broadcast(vocab))
        .crossJoin(broadcast(toks))
    }
    (out.reduce(_ unionByName _), w)
  }

  /** Encode words with an ALREADY-LEARNED merge list (q176): the apply
    * half of the BPE pair — tokenize new text with the merges
    * [[bpeMerges]] trained, without touching the training corpus.
    * `merges` is bounded driver-side metadata (the IVF-centroid
    * contract): the column expression folds one engine-portable
    * `replace` per merge, in learned order — BPE's apply rule. Depth
    * grows with the merge count; fine for the 10²–10³ merges a profile
    * job carries, a production 50k-merge tokenizer would batch through
    * a generated UDF instead (documented trade).
    *
    * @param merges pairs as "a b" strings, in learned (round) order
    * @return input + `outCol`: the space-joined symbol sequence
    */
  def bpeEncode(words: DataFrame, wordCol: String, merges: Seq[String],
      outCol: String = "sym"): DataFrame = {
    val start = concat_ws(" ", split(col(wordCol), ""))
    val folded = merges.foldLeft(start) { (c, pair) =>
      require(pair.count(_ == ' ') == 1,
        s"merge must be a single 'left right' pair, got '$pair'")
      trim(call_function("replace",
        concat(lit(" "), c, lit(" ")),
        lit(s" $pair "),
        lit(" " + pair.replace(" ", "") + " ")))
    }
    words.withColumn(outCol, folded)
  }

  /** DSIR-style importance weighting (Xie et al., NeurIPS 2023 —
    * "Data Selection for Language Models via Importance Resampling"):
    * score every raw document by its log-likelihood ratio under two
    * bag-of-ngrams unigram models — one trained on the TARGET corpus
    * (the distribution you want more of), one on the RAW pool — then
    * keep the top-weighted documents. The selection primitive behind
    * "make my 100 TB crawl look like Wikipedia".
    *
    * λ(tok) = ln((c_t+1)/(N_t+V)) − ln((c_r+1)/(N_r+V)) (add-one
    * smoothing over the SHARED vocabulary V = raw-pool types, so both
    * models are proper distributions over the same support), floored
    * to micro-nats per TYPE; a doc's importance is the exact BIGINT
    * Σ occ·λ_micro (the q130 doctrine — aggregation order can never
    * move a digit). DSIR proper resamples with Gumbel noise; the
    * deterministic library form ranks by importance (callers wanting
    * sampled selection feed `imp_micro` into [[weightedSample]]).
    *
    * Scale: two token-type count frames (keyed aggs, map-side
    * combinable), one λ frame on the type domain, one corpus-sized
    * join on the token key (stopword-head skew = AQE territory). At
    * 100 TB DSIR hashes n-grams into a bounded bucket space — swap
    * the token key for xxhash64(tok) % B exactly as
    * [[TextDedup.dupSpans]]'s `hashGrams` does; string features stay
    * the oracle mode.
    *
    * @return (idCol, n_toks, imp_micro) per raw doc — positive =
    *         more target-like than pool-average
    */
  def dsirImportance(raw: DataFrame, target: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    import graft.functions.TextFns
    def occs(df: DataFrame) = df
      .select(col(idCol).as("__id"),
        explode(TextFns.tokens(col(textCol))).as("tok"))
      .groupBy(col("__id"), col("tok")).agg(count(lit(1)).as("occ"))
    val rawOcc = occs(raw)
    val rawCnt = rawOcc.groupBy(col("tok")).agg(sum(col("occ")).as("cr"))
    val tgtCnt = occs(target).groupBy(col("tok")).agg(sum(col("occ")).as("ct"))
    // shared support: the raw-pool vocabulary; target counts outside it
    // are dropped (raw docs can't contain those tokens anyway)
    val lam = rawCnt
      .join(tgtCnt, Seq("tok"), "left")
      .crossJoin(broadcast(rawCnt.agg(
        sum(col("cr")).as("nr"), count(lit(1)).as("v"))))
      .crossJoin(broadcast(tgtCnt.join(rawCnt, Seq("tok"), "left_semi")
        .agg(coalesce(sum(col("ct")), lit(0L)).as("nt"))))
      .select(col("tok"),
        floor((log((coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double")
            / (col("nt") + col("v")).cast("double"))
          - log((col("cr") + lit(1L)).cast("double")
            / (col("nr") + col("v")).cast("double"))) * lit(1000000.0))
          .cast("long").as("lam_micro"))
    rawOcc.join(lam, "tok")
      .groupBy(col("__id"))
      .agg(sum(col("occ")).as("n_toks"),
        sum(col("occ") * col("lam_micro")).as("imp_micro"))
      .select(col("__id").as(idCol), col("n_toks"), col("imp_micro"))
  }

  /** Stratified EXACT-count split: within every stratum, the first
    * n·ppm⁄10⁶ rows (by a caller-chosen deterministic order) go to
    * each named split in turn, remainder to `restName` — scikit-style
    * StratifiedShuffleSplit semantics with guaranteed per-(stratum,
    * split) counts, where [[graft.operators.HashSplit]] is the
    * proportional-only-in-EXPECTATION sibling. Guaranteed counts are
    * the contract eval holdouts need: at 10⁹ docs a hash split's
    * ±√n drift is thousands of docs per stratum.
    *
    * Rank-within-stratum comes from
    * [[graft.operators.GlobalRank.withKeyedRank]] (range-partitioned
    * two-pass prefix sums), NOT a per-stratum window: with a handful
    * of sources a `row_number() OVER (PARTITION BY source)` sorts
    * each source's entire extent in ONE task — the shape the q137
    * rework removed from `pack`. Allocations are pure integer
    * arithmetic (n·cum_ppm div 10⁶ thresholds on the rank), so the
    * assignment replays bit-for-bit in any engine computing the same
    * order.
    *
    * @param orderCols within-stratum order; END WITH A UNIQUE KEY
    *                  (e.g. the id) or tie order decides splits. For a
    *                  pseudo-shuffle use a multiplicative hash of the
    *                  id (q207's `(id % 2²⁰)·2654435761 mod 2³²` stays
    *                  engine-portable integer arithmetic).
    * @param splits (name, ppm) taken in order; ppm ≥ 0, sum ≤ 10⁶,
    *               names distinct and ≠ `restName`
    * @return input columns + `split` */
  def stratifiedSplit(df: DataFrame, strataCols: Seq[String],
      orderCols: Seq[org.apache.spark.sql.Column],
      splits: Seq[(String, Long)],
      restName: String = "train"): DataFrame = {
    require(splits.nonEmpty, "need at least one named split")
    require(splits.forall(_._2 >= 0L),
      s"split ppm must be >= 0, got $splits")
    require(splits.map(_._2).sum <= 1000000L,
      s"split ppm sum ${splits.map(_._2).sum} exceeds 1000000")
    val names = splits.map(_._1)
    require(names.distinct.size == names.size && !names.contains(restName),
      s"split names must be distinct and != '$restName', got $names")
    val ranked = graft.operators.GlobalRank
      .withKeyedRank(df, strataCols, orderCols, "__ss_rn")
    val counts = df.groupBy(strataCols.map(col): _*)
      .agg(count(lit(1)).as("__ss_n"))
    val cum = splits.map(_._2).scanLeft(0L)(_ + _).tail
    val assign = splits.zip(cum).foldRight(lit(restName)) {
      case (((name, _), c), rest) =>
        when(col("__ss_rn") <= expr(s"__ss_n * ${c}L div 1000000L"),
          lit(name)).otherwise(rest)
    }
    ranked.join(broadcast(counts), strataCols.toSeq)
      .select(df.columns.map(col).toSeq :+ assign.as("split"): _*)
  }
}
