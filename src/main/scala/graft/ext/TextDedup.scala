package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Corpus deduplication operators — the end-user API a 100 TB training
  * pipeline calls. All stages are declarative plans:
  *
  *  1. [[dedupExact]] — content-hash groupBy, keeps the smallest id per
  *     fingerprint (one shuffle of (hash, id) pairs).
  *  2. [[lshCandidates]] — MinHash+LSH: shingle → `numHashes` minhashes →
  *     `bands` band keys → per-band bucket grouping → in-bucket pair
  *     expansion. Signatures are computed once; each band contributes one
  *     shuffle keyed by (band_index, band_hash); pair volume tracks
  *     actual collisions, never |docs|².
  *  3. [[verifiedPairs]] — exact n-gram Jaccard over candidate pairs
  *     (join back to text, per-row array intersection).
  *
  * Tuning at scale: more bands with fewer rows each = higher recall /
  * more candidates; the standard (bands=b, rowsPerBand=r) S-curve
  * threshold is (1/b)^(1/r).
  */
object TextDedup {

  /** Exact duplicate groups: fingerprint → (keep_id, n_copies). */
  def exactGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(TextFns.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup: one surviving row per distinct text. */
  def dedupExact(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = exactGroups(docs, textCol, idCol)
      .select(col("keep_id").as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** MinHash signature columns `mh0..mh{n-1}` from a digest-array
    * attribute (see [[TextFns.shingleDigests]]): n ≤ 4 hash functions
    * come from one md5 per shingle (8-hex chunks); beyond 4, salted
    * digests per group of 4. */
  def minhashes(digests: Column, numHashes: Int): Seq[Column] = {
    require(numHashes <= 4,
      "one md5 yields 4 chunk-hashes; extend with salted digests for more")
    (0 until numHashes).map(i =>
      TextFns.minhashFromDigests(digests, i).as(s"mh$i"))
  }

  /** LSH near-duplicate candidate pairs (id_a < id_b), deduplicated
    * across bands.
    *
    * `starCap` bounds the quadratic in-bucket pair expansion: a bucket
    * with more than `starCap` members emits STAR edges (every member
    * paired with the bucket's minimum id) instead of all pairs —
    * O(bucket) edges with EXACTLY the same connected components, so
    * fuzzy-dedup clustering ([[dedupFuzzyKeepIds]]) is unaffected.
    * Found the hard way: a corpus with a 10k-clone cluster (one
    * boilerplate page crawled 10k times — routine at web scale) put
    * 50M pairs in ONE bucket row and OOM'd the executor. Keep the
    * default (no cap) only when the full pair list itself is the
    * product, e.g. for pairwise similarity verification. */
  def lshCandidates(docs: DataFrame, textCol: String, idCol: String,
      ngram: Int = 3, numHashes: Int = 4, bands: Int = 1,
      starCap: Int = Int.MaxValue): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    // native one-pass signature (shingle + md5 + chunk-min in one JVM
    // loop); the HOF pipeline (tokens → ngrams → digests → minhashes)
    // is the cross-checked reference implementation
    val sig = docs
      .withColumn("_toks", TextFns.tokens(col(textCol)))
      .withColumn("_sig",
        graft.plans.TextExpressions.minhashSig(col("_toks"), ngram, numHashes))
      .select(col(idCol) +: (0 until numHashes).map(i =>
        element_at(col("_sig"), i + 1).as(s"mh$i")): _*)

    val bandDfs = (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh$i"))
      sig.select(col(idCol),
        concat_ws("|", lit(b.toString) +: cols: _*).as("band"))
    }
    val banded = bandDfs.reduce(_ unionByName _)

    val buckets = banded
      .groupBy(col("band"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
    val allPairs = flatten(transform(col("ids"), (a, i) =>
      transform(slice(col("ids"), i + lit(2), size(col("ids"))),
        b2 => struct(a.as("id_a"), b2.as("id_b")))))
    // ids is sorted => element 1 is the bucket minimum (the star center)
    val star = transform(slice(col("ids"), lit(2), size(col("ids"))),
      b2 => struct(element_at(col("ids"), 1).as("id_a"), b2.as("id_b")))
    val pairs =
      if (starCap == Int.MaxValue) allPairs
      else when(size(col("ids")) <= starCap, allPairs).otherwise(star)
    buckets
      .select(explode(pairs).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct() // a pair may collide in several bands
  }

  /** SimHash near-duplicate pairs (id_a < id_b) within `maxHamming` bits,
    * via band pigeonhole: the `bits`-wide simhash splits into `bands`
    * equal bands; any pair within hamming < `bands` shares at least one
    * identical band, so the shuffle key is (band_index, band_value) and
    * candidate volume tracks actual collisions, never |docs|². Requires a
    * numeric (long-castable) id column.
    *
    * Physical design, measured at sf0.1 (5k docs, 4.1M candidates):
    *  - a band-key SELF-JOIN re-derives the signature pipeline on both
    *    exploded branches (8 signature passes at bands=4) — 12.7 s;
    *  - higher-order array lambdas (filter/slice over the bucket) run
    *    interpreted per element with O(k²) slice copies — 9.0 s;
    *  - this version — signatures ONCE, one shuffle to buckets, then a
    *    typed flatMap whose tight primitive loop xor+popcounts each
    *    candidate — 1 s-ish. Pair expansion is genuine per-partition
    *    imperative logic, the documented case for dropping out of the
    *    declarative layer (guide §mapPartitions-last-resort).
    *
    * Skew note (100 TB): a degenerate bucket (thousands of identical
    * fingerprints) expands O(k²) pairs — exactly the pairs the query
    * asks for. Run [[dedupExact]] first so exact duplicates never reach
    * the fuzzy stage. */
  def simhashCandidates(docs: DataFrame, textCol: String, idCol: String,
      bits: Int = 32, bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(bits % bands == 0, "bands must divide bits")
    require(maxHamming < bands,
      s"pigeonhole needs maxHamming < bands ($maxHamming >= $bands misses pairs)")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    val spark = docs.sparkSession
    import spark.implicits._
    val sig = docs
      .withColumn("_toks", TextFns.tokens(col(textCol)))
      .select(col(idCol).cast("long").as("id"),
        graft.plans.TextExpressions.simhash(col("_toks"), bits).as("h"))
    val banded = sig.select(
      explode(array((0 until bands).map(i =>
        struct(lit(i).as("b"),
          shiftright(col("h"), i * bandBits).bitwiseAND(lit(mask)).as("v"))): _*))
        .as("band"),
      col("id"), col("h"))
    banded
      .groupBy(col("band"))
      .agg(collect_list(col("id")).as("ids"), collect_list(col("h")).as("hs"))
      .filter(size(col("ids")) > 1)
      .select(col("ids"), col("hs"))
      .as[(Array[Long], Array[Long])]
      .flatMap { case (ids, hs) =>
        val arr = ids.zip(hs).sortBy(_._1) // id_a < id_b, deterministic
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var i = 0
        while (i < arr.length) {
          var j = i + 1
          while (j < arr.length) {
            if (java.lang.Long.bitCount(arr(i)._2 ^ arr(j)._2) <= maxHamming)
              out += ((arr(i)._1, arr(j)._1))
            j += 1
          }
          i += 1
        }
        out
      }
      .toDF("id_a", "id_b")
      .distinct() // a pair may collide in several bands
  }

  /** Connected components over near-duplicate pairs — the final stage of
    * fuzzy dedup: candidate/verified PAIRS become CLUSTERS, and each
    * cluster keeps its minimum id. Iterative min-label propagation:
    * every round each node takes the min of its own and its neighbors'
    * labels (one shuffle join + one agg per round), until a round
    * changes nothing. Deterministic (min over ids); rounds needed ≈
    * graph diameter, and dup clusters are near-cliques, so 2-3 rounds
    * in practice — the standard large-scale CC layout (cf. the
    * large-star/small-star refinement for adversarial diameters).
    * When the pairs and the nodes each fit the graph bound
    * ([[Graph.driverRows]]), one collect of each is the only job and
    * every round runs on the driver. Past it, pinning per round
    * ([[ScaleGate.materialize]]: reliable when the context has a
    * checkpoint dir, local otherwise) truncates lineage so plans don't
    * grow per round; the symmetrized edge set is materialized ONCE
    * before the loop, so an expensive upstream (e.g. the full MinHash
    * pipeline behind [[lshCandidates]]) is never recomputed per round.
    *
    * Node universe: `nodes`. A pair that names an id outside it is
    * ignored, so the components are those of the subgraph `nodes`
    * induces — the same rows in the driver loop and the distributed
    * loop.
    *
    * @param pairs edges (id_a, id_b) — e.g. [[lshCandidates]] /
    *              [[simhashCandidates]] output
    * @param nodes one row per node id (docs without any pair become
    *              singleton components)
    * @return (node, component) with component = min id in the cluster
    */
  def connectedComponents(pairs: DataFrame, nodes: DataFrame,
      srcCol: String = "id_a", dstCol: String = "id_b",
      nodeCol: String = "id", maxRounds: Int = 15): DataFrame = {
    val job = new ScaleGate.Labels(pairs.sparkSession,
      "TextDedup.connectedComponents")
    val nodeIds = nodes.select(col(nodeCol).as("node"))
    // Partially-propagated labels would silently keep extra "unique" docs
    // downstream — refuse to return them. Diameter > maxRounds means the
    // pair graph is a long chain, not the near-clique dup clusters this
    // propagation is sized for; raise maxRounds or use
    // [[connectedComponentsStar]] (O(log n) rounds on any topology).
    val refusal = s"connectedComponents did not converge in $maxRounds rounds " +
      "(graph diameter exceeds maxRounds); raise maxRounds or use " +
      "connectedComponentsStar"
    // ONE bounded collect of the pairs and one of the node ids, under
    // the graph bound, are the gate ([[Graph.driverRows]])
    val driver = for {
      edges <- job("collect pairs")(
        Graph.driverRows(pairs.select(col(srcCol), col(dstCol))))
      ids <- job("collect nodes")(Graph.driverRows(nodeIds))
    } yield (edges, ScaleGate.distinctSorted(ids))
    driver.foreach { case (edges, ids) =>
      // Driver-loop rounds from every node as its own component: per
      // node min(own, min(neighbors)). A pair naming an id outside the
      // nodes is dropped, exactly propagate's inner join; nodes without
      // pairs keep their label, exactly its left join.
      val g = ScaleGate.DriverGraph.undirected(ids, edges)
      val (m, held) = ScaleGate.fixpoint(g, ids.clone(), maxRounds) { (m, v) =>
        var best = m(v)
        var j = g.offsets(v)
        while (j < g.offsets(v + 1)) { best = math.min(best, m(g.nbrs(j))); j += 1 }
        best
      }
      if (!held) throw new IllegalStateException(refusal)
      return ScaleGate.nodeFrame(pairs.sparkSession, ids, m, "component")
    }
    // pinned REPARTITIONED on the per-round join key, so every round's
    // edge-side exchange is pre-satisfied (the [[Graph.pageRank]] edge
    // discipline) — only the node-sized label frame shuffles per round
    val sym = job("pin pairs")(ScaleGate.materialize(
      pairs.select(col(srcCol).as("a"), col(dstCol).as("b"))
        .union(pairs.select(col(dstCol).as("a"), col(srcCol).as("b")))
        .repartition(col("b"))))
    val labels = job("pin labels")(ScaleGate.materialize(
      nodeIds.withColumn("component", col("node"))))
    // node-sized label frame vs edge-sized sym: broadcast-gate the
    // per-round joins (guide §3.1) — the localCheckpoint's unknown stats
    // otherwise force a sort-merge join that re-sorts the edge-sized
    // side every round
    val nNodes = job("count nodes")(labels.count())
    def maybeB(df: DataFrame): DataFrame =
      if (nNodes <= Graph.broadcastMaxEdges(labels))
        org.apache.spark.sql.functions.broadcast(df)
      else df
    def propagate(cur: DataFrame): DataFrame = {
      val nbMin = sym.join(maybeB(cur), sym("b") === cur("node"))
        .groupBy(col("a")).agg(min(col("component")).as("nb"))
      cur.select(col("node"), col("component"))
        .join(maybeB(nbMin), col("node") === nbMin("a"), "left")
        .select(col("node"),
          least(col("component"), coalesce(col("nb"), col("component")))
            .as("component"))
    }
    // labels are min-ids, monotone NON-INCREASING per node
    job("rounds")(ScaleGate.monotoneRounds(labels, "component", maxRounds,
      refusal)(propagate))
  }

  /** Connected components via alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — converges in O(log n) rounds on ANY topology, vs
    * min-label propagation's O(diameter). Same contract as
    * [[connectedComponents]]: labels every node (singletons included)
    * with the minimum id of its component.
    *
    * Each round is two passes over the edge set:
    *  - large-star: every neighbor u of v with u > v re-attaches to
    *    v's current minimum neighbor (strictly decreasing attachments);
    *  - small-star: v itself re-attaches to its minimum neighbor.
    * State is the parent-pointer edge list; a round is 2 shuffles
    * (groupBy node), lineage truncated per round like the propagation
    * variant. Converged when the edge set is a star forest (every
    * parent is a root).
    */
  def connectedComponentsStar(pairs: DataFrame, nodes: DataFrame,
      srcCol: String = "id_a", dstCol: String = "id_b",
      nodeCol: String = "id", maxRounds: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // canonical edges u > v (parent pointers point downward)
    var edges = ScaleGate.materialize(
      pairs
        .select(greatest(col(srcCol), col(dstCol)).as("u"),
          least(col(srcCol), col(dstCol)).as("v"))
        .filter(col("u") =!= col("v")).distinct())
    var round = 0
    var converged = edges.isEmpty
    while (!converged && round < maxRounds) {
      // large-star: neighbors larger than the center link to the center's
      // global min neighbor (including itself)
      val large = edges
        .union(edges.select(col("v").as("u"), col("u").as("v")))
        .groupBy(col("u"))
        .agg(min(col("v")).as("m"), collect_set(col("v")).as("nbrs"))
        .select(col("u"), col("m"),
          explode(filter(col("nbrs"), n => n > col("u"))).as("w"))
        .select(col("w").as("u"), least(col("m"), col("u")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // small-star: every center links all its ≤ neighbors to their min
      val small = large
        .groupBy(col("u"))
        .agg(min(col("v")).as("m"), collect_set(col("v")).as("nbrs"))
        .select(col("u"), col("m"), explode(col("nbrs")).as("w"))
        .select(
          explode(array(
            struct(col("u").as("u"), col("m").as("v")),
            struct(col("w").as("u"), col("m").as("v")))).as("e"))
        .select(col("e.u"), col("e.v"))
        .filter(col("u") =!= col("v")).distinct()
      val smallM = ScaleGate.materialize(small)
      // star forest test: no parent is itself a child elsewhere, and
      // every child has exactly one parent (its component's min id)
      converged =
        smallM.groupBy(col("u")).agg(count(lit(1)).as("n"))
          .filter(col("n") > 1).isEmpty &&
        smallM.alias("a")
          .join(smallM.alias("b"), expr("a.v = b.u"), "left_semi").isEmpty
      edges = smallM
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $maxRounds rounds")
    val labeled = edges.select(col("u").as("node"), col("v").as("component"))
    nodes.select(col(nodeCol).as("node"))
      .join(labeled, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("component"), col("node")).as("component"))
  }

  /** EXACT set-similarity self-join (the PPJoin prefix-filter rule):
    * all pairs with n-gram Jaccard ≥ simNum/simDen, ZERO false
    * negatives — the deterministic alternative to [[lshCandidates]]
    * when the pipeline needs provable completeness. All thresholds are
    * exact rational arithmetic (never a float).
    *
    * Candidate rule: order each doc's shingle set by ascending document
    * frequency; any qualifying pair must share an element in the first
    * n − ceil(t·n) + 1 of both lists, so bucketing on prefix shingles
    * alone is complete. PPJoin's positional filter then prunes: common
    * elements sit at df-position ≥ the minimal common prefix position
    * on each side, so inter ≤ min(na−ra, nb−rb) + 1 and pairs whose
    * bound cannot reach t never enter verification.
    *
    * Scale: the shuffle key is the PREFIX shingle — the rarest in each
    * doc — so bucket sizes are df-bounded and frequent shingles never
    * become join keys (the inverse skew profile of a naive token
    * join). The three reused intermediates are materialized once
    * ([[ScaleGate.materialize]]).
    *
    * `dfCap` guards the df-SATURATED corpus (shingle space not much
    * larger than the corpus, so even prefix shingles grow df ∝ rows —
    * measured on the Stress synthetic: 2× docs → 4.5× time, the Σ df²
    * cost model): shingles with df > dfCap never become join keys, so
    * candidate volume is bounded by Σ_{df ≤ cap} df² ≤ cap · Σ df —
    * LINEAR in corpus size — and a saturated corpus degrades
    * predictably instead of quadratically. Recall consequence (the
    * price of the guard, default off): a qualifying pair is missed iff
    * EVERY shared prefix shingle has df > dfCap. Because the prefix
    * ordering is ascending df, capped shingles sort after all uncapped
    * ones in BOTH docs, so the positional filter's min-rank bounds stay
    * valid for the pairs that are generated — the cap never creates a
    * false negative among pairs sharing at least one uncapped prefix
    * shingle. The production composition remains: star-capped fuzzy
    * dedup first (collapses mega-clusters), exact join over survivors,
    * dfCap as the backstop for saturated shingle spaces.
    *
    * @return (doc_a, doc_b, inter, n_union) with doc_a < doc_b
    */
  def similarityJoin(docs: DataFrame, textCol: String, idCol: String,
      ngram: Int = 3, simNum: Int = 1, simDen: Int = 2,
      dfCap: Long = Long.MaxValue): DataFrame = {
    require(simNum > 0 && simDen > 0 && simNum <= simDen,
      s"threshold must be a fraction in (0,1], got $simNum/$simDen")
    require(dfCap >= 1, s"dfCap must be >= 1, got $dfCap")
    import org.apache.spark.sql.expressions.Window
    val ex = ScaleGate.materialize(
      docs.select(col(idCol).as("doc_id"),
          graft.plans.NGramExplode.of(TextFns.tokens(col(textCol)), ngram))
        .select(col("doc_id"), col("ngram").as("tok"))
        .distinct())
    // hash-sorted token structs (r18): XXH64 + co-sort ONCE per doc so
    // the per-pair verify merges on longs instead of re-hashing every
    // token's bytes per candidate (see JaccardUtil.hashSortTokens)
    val sets = ScaleGate.materialize(
      ex.groupBy(col("doc_id"))
        .agg(collect_set(col("tok")).as("toks_raw"),
          count(lit(1)).as("n_set"))
        .select(col("doc_id"),
          graft.plans.TextExpressions.hashSortTokens(col("toks_raw"))
            .as("toks"),
          col("n_set")))
    val dfreq = ex.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))
    // prefix length n − ceil(t·n) + 1, with ceil in integer arithmetic
    // ranks/sizes are computed over the FULL shingle set, THEN capped
    // shingles are dropped as join keys — positions stay true to the
    // global (df, tok) order, which is what keeps the positional filter
    // below exact under the cap (capped = highest-df = tail positions).
    // The cap filter is only planted when a cap is set (a dead
    // always-true filter still costs in the hot window stage).
    val prefixAll = ex.join(dfreq, "tok")
      .withColumn("rk", row_number().over(wDoc))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .filter(col("rk") <=
        col("n") - ((col("n") * simNum + simDen - 1).divide(simDen)
          .cast("long")) + 1)
    val prefix = ScaleGate.materialize(
      (if (dfCap == Long.MaxValue) prefixAll
       else prefixAll.filter(col("df") <= dfCap))
        .select(col("tok"), col("doc_id"), col("rk"), col("n")))
    // jaccard ≥ num/den ⇔ inter·(num+den) ≥ num·(na+nb); apply it to
    // the positional upper bound first, then exactly after counting
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(min(col("a.rk")).as("ra"), min(col("b.rk")).as("rb"),
        first(col("a.n")).as("pna"), first(col("b.n")).as("pnb"))
      .filter((least(col("pna") - col("ra"), col("pnb") - col("rb")) + 1) *
        (simNum + simDen) >= (col("pna") + col("pnb")) * simNum)
      .select(col("doc_a"), col("doc_b"))
    // No explicit-width repartition before this CPU-dense verify: it
    // lost its alternating A/Bs at sf0.1 (OPTIMIZATION_r19.md §8)
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"),
        col("n_set").as("na")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"),
        col("n_set").as("nb")), "doc_b")
      .withColumn("inter",
        graft.plans.TextExpressions.hashSortedIntersect(
          col("toks_a"), col("toks_b")))
      .withColumn("n_union", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * simDen >= col("n_union") * simNum)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("n_union"))
  }

  /** EXACT asymmetric containment self-join: all ordered pairs with
    * |A ∩ B| / |A| ≥ simNum/simDen — finds docs near-CONTAINED in
    * another (quote farms, boilerplate wrappers, doc-inside-doc), the
    * pairs symmetric Jaccard ([[similarityJoin]]) structurally misses
    * when |B| ≫ |A|. Prefix-filter adapted to containment: only the
    * INNER side needs a prefix (its rarest ⌈(1−t)·n⌉+1 shingles in df
    * order); any qualifying pair must collide between A's prefix and
    * B's FULL posting list. Verification is the exact integer test
    * simDen·|∩| ≥ simNum·|A| via the codegen'd intersect count. All
    * thresholds exact rational arithmetic.
    *
    * Scale: candidate volume = Σ_{A-prefix shingles} df(shingle); the
    * prefix takes each doc's RAREST shingles, so the posting lists
    * joined against are the short ones — df-bounded, not
    * corpus-bounded. (A |B| ≥ t·|A| length filter on the candidate
    * side was tried and REVERTED on measurement — attaching set sizes
    * to postings cost a second pass over the big (doc, shingle) table,
    * 3.3 → 6.4 s at sf0.1; at true corpus scale, fold the size into
    * the posting row at build time instead of re-joining for it.)
    *
    * `dfCap` is the same saturated-corpus guard as [[similarityJoin]]'s:
    * shingles with df > dfCap never become join keys, bounding
    * candidate volume at cap · |prefix entries| (linear). Recall
    * consequence: a qualifying pair is missed iff every A-prefix
    * shingle that B also contains has df > dfCap.
    *
    * @return (doc_in, doc_out, inter, n_in): doc_in ≈⊆ doc_out
    */
  def containmentJoin(docs: DataFrame, textCol: String, idCol: String,
      ngram: Int = 3, simNum: Int = 4, simDen: Int = 5,
      dfCap: Long = Long.MaxValue): DataFrame = {
    require(simNum > 0 && simDen > 0 && simNum <= simDen,
      s"threshold must be a fraction in (0,1], got $simNum/$simDen")
    require(dfCap >= 1, s"dfCap must be >= 1, got $dfCap")
    import org.apache.spark.sql.expressions.Window
    val ex = ScaleGate.materialize(
      docs.select(col(idCol).as("doc_id"),
          graft.plans.NGramExplode.of(TextFns.tokens(col(textCol)), ngram))
        .select(col("doc_id"), col("ngram").as("tok"))
        .distinct())
    // hash-sorted token structs — same r18 verify rewrite as
    // similarityJoin's (hash once per doc, merge on longs per pair)
    val sets = ScaleGate.materialize(
      ex.groupBy(col("doc_id"))
        .agg(collect_set(col("tok")).as("toks_raw"),
          count(lit(1)).as("n_set"))
        .select(col("doc_id"),
          graft.plans.TextExpressions.hashSortTokens(col("toks_raw"))
            .as("toks"),
          col("n_set")))
    val dfreq = ex.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // containment prefix length: n − ceil(t·n) + 1, integer ceil; the
    // cap filter is only planted when a cap is set
    val prefixAll = ex.join(dfreq, "tok")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .filter(col("rk") <=
        col("n") - ((col("n") * simNum + simDen - 1).divide(simDen)
          .cast("long")) + 1)
    val prefix =
      (if (dfCap == Long.MaxValue) prefixAll
       else prefixAll.filter(col("df") <= dfCap))
        .select(col("tok"), col("doc_id").as("doc_in"))
    prefix
      .join(ex.select(col("tok"), col("doc_id").as("doc_out")), "tok")
      .filter(col("doc_in") =!= col("doc_out"))
      .select(col("doc_in"), col("doc_out")).distinct()
      .join(sets.select(col("doc_id").as("doc_in"), col("toks").as("toks_a"),
        col("n_set").as("n_in")), "doc_in")
      .join(sets.select(col("doc_id").as("doc_out"), col("toks").as("toks_b")),
        "doc_out")
      .withColumn("inter",
        graft.plans.TextExpressions.hashSortedIntersect(
          col("toks_a"), col("toks_b")))
      .filter(col("inter") * simDen >= col("n_in") * simNum)
      .select(col("doc_in"), col("doc_out"), col("inter"), col("n_in"))
  }

  /** Fuzzy dedup keep-set: one surviving id per near-dup cluster (the
    * minimum), singletons kept as themselves. */
  def dedupFuzzyKeepIds(pairs: DataFrame, nodes: DataFrame,
      nodeCol: String = "id"): DataFrame =
    connectedComponents(pairs, nodes, nodeCol = nodeCol)
      .filter(col("node") === col("component"))
      .select(col("node").as(nodeCol))

  /** Incremental dedup: which docs of a NEW batch are novel against an
    * EXISTING corpus? A batch doc is novel iff none of its LSH bands
    * collides with any corpus band — the standard corpus-update gate
    * (only novel docs are appended; the corpus is never re-clustered).
    *
    * Scale shape: the corpus contributes only its DISTINCT band keys
    * (a few hundred bytes per doc, precomputable and storable as the
    * corpus's "dedup index"); the batch side is usually small. The join
    * is a semi-join on the band key — shuffle volume is bands, never
    * text. Returns the batch's novel id rows.
    */
  def novelAgainst(corpus: DataFrame, batch: DataFrame,
      textCol: String, idCol: String,
      ngram: Int = 3, numHashes: Int = 4, bands: Int = 1): DataFrame = {
    def bandsOf(df: DataFrame): DataFrame = {
      require(numHashes % bands == 0, "bands must divide numHashes")
      val rowsPerBand = numHashes / bands
      val sig = df
        .withColumn("_toks", TextFns.tokens(col(textCol)))
        .withColumn("_sig",
          graft.plans.TextExpressions.minhashSig(col("_toks"), ngram, numHashes))
      val bandDfs = (0 until bands).map { b =>
        val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => element_at(col("_sig"), i + 1))
        sig.select(col(idCol),
          concat_ws("|", lit(b.toString) +: cols: _*).as("band"))
      }
      bandDfs.reduce(_ unionByName _)
    }
    val corpusBands = bandsOf(corpus).select(col("band")).distinct()
    val batchBands = bandsOf(batch)
    val collided = batchBands
      .join(corpusBands, Seq("band"), "left_semi")
      .select(col(idCol)).distinct()
    batch.select(col(idCol)).distinct()
      .join(collided, Seq(idCol), "left_anti")
  }

  /** Exact n-gram Jaccard for candidate pairs: join text back, compute
    * |A∩B| / |A∪B| over distinct shingle sets, keep pairs ≥ threshold. */
  def verifiedPairs(docs: DataFrame, candidates: DataFrame,
      textCol: String, idCol: String, ngram: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val sh = docs
      .withColumn("_toks", TextFns.tokens(col(textCol)))
      .select(col(idCol),
        graft.plans.TextExpressions.distinctNgrams(col("_toks"), ngram).as("sh"))
    val a = sh.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    candidates.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        // native one-pass distinct-set jaccard — the verification stage
        // runs once per candidate pair, the hot loop of fuzzy dedup
        graft.plans.TextExpressions.jaccard(col("sh_a"), col("sh_b"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Span-level exact duplicate detection (the substring-dedup stage of
    * a training pipeline, after doc-level dedup): find every MAXIMAL
    * run of tokens covered by k-grams that occur at least `minCount`
    * times across the whole corpus (self-repetition inside one doc
    * counts — boilerplate headers, templated passages, repeated
    * licence blocks).
    *
    * Pipeline (all declarative, three shuffles):
    *  1. token k-grams WITH their start position, per doc;
    *  2. global gram occurrence counts (hash agg, map-side combinable);
    *     grams with count >= minCount are "duplicated";
    *  3. per-doc gaps-and-islands merge: duplicated-gram starts sorted
    *     within the doc; a gap > k between consecutive starts opens a
    *     new span (a gram at p covers [p, p+k-1], so starts within k
    *     overlap or touch). The window is KEYED by doc — no global
    *     window, scales with the corpus.
    *
    * `hashGrams` keys the corpus-wide gram shuffle on `xxhash64(gram)`
    * (8 bytes) instead of the gram text (~40–60 bytes for a 5-gram) —
    * the 100 TB mode, where the (gram, doc, pos) exchange otherwise
    * carries the corpus text itself several times over. Results differ
    * from the string mode only when two DISTINCT grams collide in 64
    * bits: P ≈ G²/2⁶⁵ by the birthday bound, ~3·10⁻⁸ even at G = 10⁹
    * distinct grams — and a collision can only OVER-mark a span
    * (spurious duplicated gram), never drop one. String grams stay the
    * default/oracle mode (collision-free, engine-portable).
    *
    * @return one row per maximal duplicated span:
    *         (idCol, span_id, start_pos, end_pos, span_tokens) with
    *         1-based token positions, end inclusive.
    */
  /** CCNet-style paragraph dedup WITH RECONSTRUCTION (the
    * corpus-transforming sibling of [[dupSpans]], which only reports):
    * split every document into paragraphs on `sep`, keep each distinct
    * paragraph's GLOBAL FIRST occurrence (ordered by (id, position) —
    * deterministic, engine-portable) and drop every later repeat —
    * boilerplate headers, licence blocks, templated passages — then
    * reassemble each document from its surviving paragraphs in
    * original order. Documents whose every paragraph was seen earlier
    * come back with empty text (the row is kept — silently dropping a
    * document would corrupt downstream joins).
    *
    * Scale shape: one hash-aggregation by paragraph content (map-side
    * combinable) for the first-occurrence frame, one co-partitioned
    * join back (same key — the exchange is reused), one keyed regroup
    * by document for reassembly (per-doc sort_array over its own
    * bounded paragraph list, never a global window), and a final keyed
    * join to restore all-duplicate documents. The corpus text shuffles
    * twice; at 100 TB, key the aggregation on xxhash64(paragraph) as
    * in [[dupSpans]]' hashGrams mode if the paragraph exchange
    * dominates (same collision arithmetic; string mode stays the
    * oracle default).
    *
    * @return (idCol, textCol) with deduplicated, reassembled text */
  def dedupParagraphsKeepFirst(docs: DataFrame, idCol: String,
      textCol: String, sep: String): DataFrame = {
    require(sep.nonEmpty, "paragraph separator must be non-empty")
    val paras = docs.select(col(idCol),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as(Seq("__pos", "__para")))
    val first = paras.groupBy(col("__para"))
      .agg(min(struct(col(idCol).as("__fid"), col("__pos").as("__fpos")))
        .as("__f"))
    val kept = paras.join(first, Seq("__para"))
      .filter(col(idCol) === col("__f.__fid") &&
        col("__pos") === col("__f.__fpos"))
    val rebuilt = kept
      .groupBy(col(idCol))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("__pos"), col("__para")))),
        e => e("__para")), sep).as("__text"))
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__text"), lit("")).as(textCol))
  }

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken, the MOSS
    * scheme): from each window of `w` consecutive k-gram hashes,
    * select the minimum — the classic local fingerprinting guarantee
    * that ANY shared token run of length ≥ w + k − 1 shares at least
    * one selected fingerprint, with expected density 2/(w+1) (a
    * bounded, tunable index size where all-grams indexing is linear
    * in the corpus).
    *
    * Determinism across engines: the hash is md5 hex (identical
    * lowercase hex in Spark and DuckDB) and the window minimum is the
    * plain lexicographic string min. The classic positional
    * tie-break is IRRELEVANT to the output: tied window minima are
    * equal hashes, i.e. the identical fingerprint, so min(md5) alone
    * selects the same fingerprint set any (hash, pos) rule would.
    *
    * Scale: a document's grams already live in its own row, so the
    * whole selection runs as PER-ROW array expressions (gram array →
    * keyed hashes → per-window array_min → per-doc array_distinct →
    * explode) — ZERO shuffle anywhere, fully codegen'd; a first cut
    * through a document-keyed sliding window shuffled and sorted
    * every gram occurrence by doc and ran 6× slower at 1M docs for
    * identical output. ~2·n_grams/(w+1) fingerprints per doc, already
    * distinct WITHIN the doc. Joining fingerprints across docs is the
    * caller's move; cap hot fingerprints by document frequency first
    * (the LSH starCap discipline) — a boilerplate shingle selected in
    * thousands of docs would otherwise explode the pair join
    * quadratically.
    *
    * Docs with fewer than k + w − 1 tokens have no full window and
    * emit nothing (same drop rule as the reference winnowing paper's
    * guarantee threshold).
    *
    * @return distinct-per-doc (idCol, fingerprint) — fingerprint is
    *         the 32-char md5 hex of the selected k-gram
    */
  def winnowFingerprints(docs: DataFrame, idCol: String,
      textCol: String, k: Int = 4, w: Int = 5): DataFrame = {
    require(k >= 1, s"gram order must be >= 1, got $k")
    require(w >= 1, s"window must be >= 1, got $w")
    val toksRaw = docs
      .select(col(idCol).as("__id"), TextFns.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= k + w - 1)
    // small-input parallelism guard: with the whole selection fused
    // into the scan stage, a corpus that arrives as fewer splits than
    // the cluster has slots would put the md5 workload on one task —
    // spread the (id, tokens) rows first. A production corpus has
    // thousands of splits, so the branch is a no-op exactly where the
    // repartition would cost something. The split count is ESTIMATED
    // from the optimizer's size stats (driver metadata, no job, no
    // eager RDD compilation — the r16 finding: `.rdd` force-planned
    // the query outside AQE's view on every call); unknown-size
    // sources report huge sizeInBytes and correctly skip the guard.
    val s = docs.sparkSession
    val par = s.sparkContext.defaultParallelism
    val splitBytes =
      BigInt(s.sessionState.conf.filesMaxPartitionBytes).max(BigInt(1))
    val estSplits =
      toksRaw.queryExecution.optimizedPlan.stats.sizeInBytes / splitBytes + 1
    val toks = if (estSplits < par) toksRaw.repartition(par) else toksRaw
    // fused codegen'd selection (r18 optimization round): gram build +
    // md5 + window minima + distinct in one JVM pass per row — the HOF
    // formulation (transform(ngrams, md5) → array_distinct(transform(
    // sequence, array_min(slice)))) computed the identical fingerprint
    // set but paid a gram-string allocation per shingle, a fresh
    // MessageDigest per hash and a w-element array copy per window;
    // byte-identical by WinnowSpec's HOF-vs-expression equality pin
    toks.select(col("__id").as(idCol),
      explode(graft.plans.TextExpressions.winnowFps(col("__toks"), k, w))
        .as("fingerprint"))
  }

  def dupSpans(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 5, minCount: Long = 2L,
      hashGrams: Boolean = false): DataFrame = {
    require(k >= 1, s"gram order must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col(idCol).as("__id"), TextFns.tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") >= k)
    // native generator (no per-row intermediate gram array); every doc
    // here has __n >= k, so it emits exactly __n-k+1 FULL k-grams with
    // 0-based positions
    val grams = toks
      .select(col("__id"), graft.plans.NGramExplode.of(col("__toks"), k))
      .select(col("__id"), (col("pos") + 1).as("__pos"),
        (if (hashGrams) xxhash64(col("ngram")) else col("ngram")).as("__g"))
    val dup = grams.groupBy(col("__g"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") >= minCount)
      .select(col("__g"))
    val w = Window.partitionBy(col("__id")).orderBy(col("__pos"))
    grams.join(dup, Seq("__g"), "left_semi")
      .withColumn("__prev", lag(col("__pos"), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull || col("__pos") - col("__prev") > k, 1L)
          .otherwise(0L))
      .withColumn("span_id", sum(col("__new")).over(w))
      .groupBy(col("__id"), col("span_id"))
      .agg(min(col("__pos")).as("start_pos"),
        (max(col("__pos")) + lit(k - 1)).as("end_pos"))
      .select(col("__id").as(idCol), col("span_id"), col("start_pos"),
        col("end_pos"),
        (col("end_pos") - col("start_pos") + 1).as("span_tokens"))
  }

  /** Longest common token SPAN per candidate pair — the exact verify
    * stage after any fuzzy dedup blocker (LSH/containment flagged the
    * pair; this answers "how much actually overlaps", the number a
    * keep/drop/quarantine policy thresholds on).
    *
    * Method: a common token run of length L ≥ k is exactly L−k+1
    * consecutive shared k-grams on one DIAGONAL (ib − ia constant) of
    * the position-pair grid — so the longest span is k−1 + the longest
    * island of consecutive `ia` within each (pair, diagonal) group, a
    * gaps-and-islands window KEYED by (pair, diagonal) (never global).
    *
    * Scale: two keyed joins route gram occurrences to their pairs
    * (pairs ⋈ grams_a on id, then ⋈ grams_b on (id, gram)); volume =
    * shared-gram occurrences per pair, which is what the pair list
    * already selected for. Pathology: a token repeated r times in BOTH
    * docs puts r² points on the grid — highly repetitive docs belong
    * to [[dupSpans]]/repetition-quality filters BEFORE pairwise
    * verification (same hazard class as the PPJoin df head, same
    * answer: filter upstream).
    *
    * @param pairs (aCol, bCol) candidate id pairs
    * @return one row per input pair: (aCol, bCol, lcs_tokens) —
    *         lcs_tokens = longest common span length, 0 when the pair
    *         shares no k-gram (true overlap < k)
    */
  def longestCommonSpan(pairs: DataFrame, docs: DataFrame,
      textCol: String, idCol: String,
      aCol: String = "a", bCol: String = "b", k: Int = 5): DataFrame = {
    require(k >= 1, s"gram order must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val grams = docs
      .select(col(idCol).as("__id"), TextFns.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= k)
      .select(col("__id"), graft.plans.NGramExplode.of(col("__toks"), k))
      .select(col("__id"), (col("pos") + 1).as("__p"), col("ngram").as("__g"))
    val grid = pairs.select(col(aCol).as("__a"), col(bCol).as("__b"))
      .join(grams.select(col("__id").as("__a"), col("__p").as("__ia"),
        col("__g")), Seq("__a"))
      .join(grams.select(col("__id").as("__b"), col("__p").as("__ib"),
        col("__g")), Seq("__b", "__g"))
      .select(col("__a"), col("__b"), col("__ia"),
        (col("__ib") - col("__ia")).as("__d"))
    val w = Window.partitionBy(col("__a"), col("__b"), col("__d"))
      .orderBy(col("__ia"))
    val runs = grid
      .withColumn("__rn", row_number().over(w))
      .groupBy(col("__a"), col("__b"), col("__d"),
        (col("__ia") - col("__rn")).as("__grp"))
      .agg(count(lit(1)).as("__run"))
      .groupBy(col("__a"), col("__b"))
      .agg((max(col("__run")) + lit(k - 1)).as("__lcs"))
    pairs.select(col(aCol).as("__a"), col(bCol).as("__b"))
      .join(runs, Seq("__a", "__b"), "left")
      .select(col("__a").as(aCol), col("__b").as(bCol),
        coalesce(col("__lcs"), lit(0L)).as("lcs_tokens"))
  }

  /** df-rarest-prefix candidate generation for EDIT-DISTANCE joins —
    * the Ed-Join discipline (Xiao/Wang/Lin, VLDB 2008) applied with
    * [[similarityJoin]]'s df-ordered prefix machinery: instead of
    * joining on EVERY positional q-gram (a shuffle whose candidate
    * volume is Σ_g df_a(g)·df_b(g) on a Zipf-distributed gram key —
    * the hottest gram of a natural-language corpus appears in a
    * constant fraction of strings, so all-grams blocking goes
    * quadratic at scale), each string contributes only its
    * (destroyBudget+1) globally-RAREST tagged grams as join keys.
    *
    * Completeness (the prefix-filter lemma over tagged multisets): a
    * qualifying edit sequence destroys at most `destroyBudget` of the
    * longer string's positional q-grams, so the multiset overlap is
    * ≥ max(|A|,|B|) − destroyBudget; with both sides' gram multisets
    * sorted by ONE global (df, gram, occurrence) order, any pair with
    * overlap ≥ α must collide within its first |·| − α + 1 grams —
    * i.e. within the (destroyBudget+1)-prefix. Multisets are made
    * set-like by tagging each gram with its occurrence index, so a
    * repeated gram matches occurrence-for-occurrence.
    *
    * destroyBudget per metric, q-grams of order q: Levenshtein ≤ k
    * destroys ≤ k·q grams (each ins/del/sub touches q windows);
    * Damerau–Levenshtein ≤ k destroys ≤ k·(q+1) (an adjacent
    * transposition touches q+1 windows).
    *
    * Scope: strings with ≥ 1 q-gram (len ≥ q) AND pairs whose LONGER
    * side has ≥ destroyBudget+1 grams (len ≥ destroyBudget+q) — below
    * that the overlap bound is vacuous; the caller unions an
    * all-pairs branch over that bounded short-string universe
    * (exactly the q151/q211 pattern).
    *
    * Scale shape: gram explode + per-string keyed window (the
    * [[similarityJoin]] prefix discipline — partitioned by the string
    * key, never global), then an equi-join whose left/right sides
    * carry ≤ destroyBudget+1 rows per string. Candidate volume is
    * Σ over tagged grams of dfP_a·dfP_b where dfP counts PREFIX
    * occurrences only — hot grams are precisely the ones prefixes
    * exclude, so the volume stays near-linear where all-grams
    * blocking detonates (measured: Stress `gramblock`).
    *
    * SIZE q TO THE CORPUS: prefix filtering buys a CONSTANT factor
    * (measured ~12–16× under all-grams at every (n, q) — Stress
    * `gramblock`); the volume EXPONENT is set by gram-space
    * saturation. While the effective gram vocabulary out-scales the
    * corpus the volume is near-linear; once it saturates, even the
    * rarest gram is hot and both forms go quadratic. "Effective"
    * means perplexity, not |Σ|^q: on natural-letter-frequency names
    * each +1 of q multiplies the effective vocabulary (and divides
    * candidate volume) by the per-letter perplexity, measured ~17×,
    * so q must satisfy perplexity^q ≫ n (q = 2 saturates by
    * n ≈ 10⁴·5; q = 4 by ≈ 10⁵·5). The budget scales as k·q, so
    * strings must be comfortably longer than (k+1)·q for the prefix
    * to filter at all — for SHORT strings at giant n, block on
    * (length band × rarest grams) and accept the verify cost, or
    * move to token-level grams where the vocabulary is corpus-sized.
    *
    * @param a        left side; `aId` must be unique per string row
    * @param b        right side (pass `a`'s frame again + selfPairs
    *                 for a self-join)
    * @param selfPairs emit each unordered pair once, ordered by
    *                 (str, id) — two DISTINCT rows carrying the SAME
    *                 string (edit distance 0, the hottest dedup case)
    *                 still pair, ordered by id; a row never pairs
    *                 with itself
    * @return candidate pairs (a_id, a_str, b_id, b_str), distinct
    */
  def edJoinCandidates(a: DataFrame, aId: String, aStr: String,
      b: DataFrame, bId: String, bStr: String,
      q: Int, destroyBudget: Int, selfPairs: Boolean = false): DataFrame = {
    require(q >= 1, s"gram order must be >= 1, got $q")
    require(destroyBudget >= 1, s"destroy budget must be >= 1, got $destroyBudget")
    val ta = taggedGrams(a, aId, aStr, q)
    val tb = if (selfPairs) ta else taggedGrams(b, bId, bStr, q)
    // ONE global rarity order shared by both sides (the lemma's only
    // requirement); for a two-sided join the df is over the union
    val dfreq = (if (selfPairs) ta.select(col("g"), col("o"))
      else ta.select(col("g"), col("o"))
        .unionAll(tb.select(col("g"), col("o"))))
      .groupBy(col("g"), col("o")).agg(count(lit(1)).as("df"))
    // broadcast the df lookup only in the small-vocabulary regime
    // (character q ≤ 4) — see gramPrefix's mutually-exclusive-risks
    // note; at estimateGramOrder's large-q operating point dfreq can
    // approach corpus scale and must shuffle (safely: no hot grams)
    val bcast = q <= 4
    val pa = gramPrefix(ta, dfreq, destroyBudget + 1, bcast)
    val pb = if (selfPairs) pa
      else gramPrefix(tb, dfreq, destroyBudget + 1, bcast)
    val cond = col("a.g") === col("b.g") && col("a.o") === col("b.o") &&
      (if (selfPairs)
        col("a.str") < col("b.str") ||
          (col("a.str") === col("b.str") && col("a.id") < col("b.id"))
      else lit(true))
    pa.as("a").join(pb.as("b"), cond)
      .select(col("a.id").as("a_id"), col("a.str").as("a_str"),
        col("b.id").as("b_id"), col("b.str").as("b_str"))
      .distinct()
  }

  /** All strings reachable from `s` by deleting AT MOST `k`
    * characters (including `s` itself) — the FastSS/SymSpell deletion
    * neighborhood. Completeness lemma (Bocek et al. 2007): if
    * lev(a, b) ≤ k — or DL(a, b) ≤ k; a transposition is one deletion
    * from each side — then D_≤k(a) ∩ D_≤k(b) ≠ ∅, so joining on the
    * exploded neighborhood is a complete candidate blocker.
    *
    * This is the SHORT-STRING stratum's blocker (r14 verdict minor
    * finding): below len ≈ (k+1)·q the prefix lemma of
    * [[edJoinCandidates]] is vacuous, and an all-pairs/cross-join
    * carve-out is O(n·|Σ|^len) on a short-string-heavy corpus. The
    * neighborhood bounds the join keys at C(len, ≤k) ≈ len^k per
    * string (≤ 16 for len ≤ 5, k = 2) with per-key fan-in bounded by
    * |Σ|·len (the strings that delete TO a variant), so the candidate
    * volume is O(n·len^{2k}) — never corpus-quadratic. Neighborhoods
    * grow combinatorially with k·len: keep this for the short stratum
    * and the gram prefix for everything else. */
  private[graft] def deletionVariants(s: Column, k: Int): Column = {
    require(k >= 1 && k <= 3, s"deletion budget out of range: $k")
    def del1(x: Column): Column =
      when(length(x) === 0, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), length(x)),
          i => concat(x.substr(lit(1), i - 1), x.substr(i + 1, length(x)))))
    val layers = Iterator.iterate(array(s))(prev =>
      array_distinct(flatten(transform(prev, t => del1(t)))))
      .take(k + 1).toSeq
    array_distinct(concat(layers: _*))
  }

  /** Estimate the gram order `q` for [[edJoinCandidates]] from the
    * corpus itself, so callers stop hard-coding it (r14 verdict item
    * 6). The law the Stress `gramblock` probe measured: prefix
    * filtering buys a CONSTANT ~12–16× under all-grams; the volume
    * EXPONENT is set by gram-space saturation, so q must be large
    * enough that the effective tagged-gram vocabulary out-scales the
    * corpus (perplexity^q ≫ n — ~17×/+1 on natural-letter names).
    *
    * Method: the same analytic-volume discipline the Stress probes
    * apply, exposed operator-side. A DETERMINISTIC id-hash sample
    * (each string kept iff xxhash64(id) mod 1000 < samplePermille, so
    * a pair survives with probability f² exactly) is exploded to
    * tagged grams per candidate q; the sample's exact all-grams
    * candidate volume Σ_g C(df_g, 2) (a DECIMAL fold off the count
    * table — no join is ever run) scales by 1/f² to the full-corpus
    * prediction, and the smallest q whose prediction is ≤
    * budgetPerString·n wins. The all-grams prediction is conservative
    * by the measured prefix constant. Corpora smaller than ~100/f
    * strings skip sampling (f = 1): the "sample" is the corpus.
    *
    * Cost: one count + maxQ−1 bounded aggregations over a ~f-fraction
    * sample; driver state is a handful of scalars.
    *
    * @param budgetPerString accepted mean candidates per string (each
    *        candidate costs one edit-distance verify)
    * @return gram order in [2, maxQ]; maxQ if even it saturates
    *         (callers should then expect quadratic-ish volume — the
    *         gramblock finding — and consider token-level grams)
    */
  def estimateGramOrder(df: DataFrame, idCol: String, strCol: String,
      maxQ: Int = 6, budgetPerString: Int = 32,
      samplePermille: Int = 10): Int = {
    require(maxQ >= 2, s"maxQ must be >= 2, got $maxQ")
    require(budgetPerString >= 1, "budgetPerString must be >= 1")
    require(samplePermille >= 1 && samplePermille <= 1000,
      s"samplePermille out of range: $samplePermille")
    val n = df.count()
    if (n == 0) return 2
    // below ~100 sampled strings the volume estimate is noise — use
    // the whole corpus (the estimator is cheap there anyway)
    val pm = if (n * samplePermille < 100000L) 1000 else samplePermille
    val sample = df
      .filter(pmod(xxhash64(col(idCol)), lit(1000)) < lit(pm))
      .select(col(idCol).as("sid"), col(strCol).as("sstr"))
      .localCheckpoint()
    val m = sample.count()
    if (m < 2) return 2
    val fInv = BigInt(1000) // volume scales by (1000/pm)² — exact ints
    var q = 2
    while (q < maxQ) {
      // measure the exact TAGGED (g, occurrence) space the blocker
      // joins on — occurrence tags split hot grams, so an untagged df
      // table would overestimate the volume
      val row = taggedGrams(sample, "sid", "sstr", q)
        .groupBy(col("g"), col("o")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c").cast("decimal(38,0)") * (col("c") - 1))
          .as("pairs2"))
        .head()
      val pairs2 =
        if (row.isNullAt(0)) BigInt(0)
        else BigInt(row.getDecimal(0).toBigInteger)
      // predicted full-corpus all-grams volume = (Σ c(c−1)/2) / f²
      val predicted = pairs2 * fInv * fInv / (BigInt(2) * pm * pm)
      if (predicted <= BigInt(budgetPerString) * n) return q
      q += 1
    }
    maxQ
  }

  /** Tagged positional q-gram multiset: one row per (string, gram,
    * occurrence-index) — the set-like multiset encoding the prefix
    * lemma needs. Strings shorter than q contribute nothing (callers
    * cover them in their short-string branch). */
  private[graft] def taggedGrams(df: DataFrame, idCol: String,
      strCol: String, q: Int): DataFrame =
    df.select(col(idCol).as("id"), col(strCol).as("str"))
      .withColumn("len", length(col("str")))
      .filter(col("len") >= q)
      .select(col("id"), col("str"),
        explode(expr(s"transform(sequence(1, len - ${q - 1})," +
          s" i -> substring(str, i, $q))")).as("g"))
      .groupBy(col("id"), col("str"), col("g")).agg(count(lit(1)).as("c"))
      .select(col("id"), col("str"), col("g"),
        explode(expr("sequence(1, c)")).as("o"))

  /** Each string's `prefixLen` globally-rarest tagged grams in the
    * shared (df, g, o) order — keyed window on the unique string id
    * (the [[similarityJoin]] discipline; no global sort). Exposed
    * package-private so specs can assert the ≤ prefixLen-rows-per-
    * string invariant on the JOIN INPUT itself.
    *
    * The df lookup is an EXPLICIT broadcast when `broadcastDf` (r14
    * verdict item 1): at small gram order the tagged-gram vocabulary
    * (≤ effective-|Σ|^q × occurrence multiplicity) is tiny while
    * `tagged` is corpus-sized with a Zipf-distributed gram key — a
    * shuffle hash join would route every occurrence of the hottest
    * gram ("e ", occurrence 1 — a constant fraction of any
    * natural-language corpus) to ONE reduce partition: the exact
    * straggler class the prefix rewrite was built to kill.
    * EdJoinPrefixSpec plan-asserts the BroadcastHashJoin so the
    * guarantee is structural. The flag exists because the two risks
    * are MUTUALLY EXCLUSIVE in q: callers steered by
    * [[estimateGramOrder]] toward large q (vocabulary out-scaling
    * the corpus, |Σ|^q ≫ n) would blow a forced broadcast up to
    * corpus size — but in exactly that regime no gram is hot (the
    * Zipf head has been diluted away by construction), so the
    * shuffle join the flag falls back to is straggler-safe. */
  private[graft] def gramPrefix(tagged: DataFrame, dfreq: DataFrame,
      prefixLen: Int, broadcastDf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id"))
      .orderBy(col("df"), col("g"), col("o"))
    tagged.join(if (broadcastDf) broadcast(dfreq) else dfreq,
        Seq("g", "o"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= prefixLen)
      .select(col("id"), col("str"), col("g"), col("o"))
  }
}
