package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Graph analytics operators over an undirected edge DataFrame — the
  * library form of the q152/q157 query shapes, with the two properties a
  * production graph job needs that a fixed-depth query cannot provide:
  *
  *  - **fixpoint iteration** ([[kCore]] peels until NOTHING changes,
  *    with the same convergence guard and per-round pinning
  *    ([[ScaleGate.materialize]]) as [[TextDedup.connectedComponents]]);
  *  - **injective orientation keys** ([[triangleCount]] orders nodes by
  *    `struct(degree, id)` — lexicographic struct comparison — never an
  *    arithmetic `d*C + id` encoding, which silently conflates distinct
  *    nodes once ids reach the multiplier).
  *
  * Edge-set contract: undirected simple graphs. [[canonicalEdges]]
  * normalizes arbitrary pair lists (drops self-loops, dedups, orders
  * u < v); operators accept `assumeCanonical = true` to skip that
  * shuffle when the caller already materialized a canonical set.
  */
object Graph {

  /** Normalize an arbitrary pair list to canonical undirected form:
    * (u, v) with u < v, self-loops dropped, duplicates removed. */
  def canonicalEdges(edges: DataFrame,
      srcCol: String = "u", dstCol: String = "v"): DataFrame =
    edges.select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  /** Canonical co-occurrence edge set from (group, item) rows: every
    * distinct item pair (u < v) sharing a group — the market-basket
    * projection behind the co-order graph queries.
    *
    * Shape (guide §2.4 — remove shuffles outright): ONE exchange on the
    * group key with map-side partial `collect_set`, pairs generated
    * inside each group row by codegen'd array lambdas, then the
    * unavoidable edge distinct. The equivalent self-join formulation
    * pays a (group,item)-distinct exchange PLUS the join's group-key
    * exchange before the same edge distinct — two extra data-sized
    * shuffles for identical output.
    *
    * Skew contract: one output row per group, quadratic pairs per
    * group — same pair volume the self-join emits, but collected on
    * one task per group. Fine while group fan-out is bounded (orders
    * hold tens of items); for a heavy-tailed group column keep the
    * self-join form instead. */
  def coOccurrenceEdges(rows: DataFrame, grpCol: String,
      itemCol: String): DataFrame =
    // a packed-long pair key (u << 32 | v) lost its A/B here: the 32-bit
    // proof costs a min/max scan that outweighs the narrower exchange
    // (OPTIMIZATION_r19.md §7)
    rows.groupBy(col(grpCol))
      .agg(sort_array(collect_set(col(itemCol))).as("items"))
      .select(explode(flatten(transform(col("items"), (x, i) =>
        transform(slice(col("items"), i + lit(2), size(col("items"))),
          y => struct(x.as("u"), y.as("v")))))).as("e"))
      .select(col("e.u"), col("e.v"))
      .distinct()

  /** Degree of every node with at least one edge. */
  def degrees(edges: DataFrame,
      srcCol: String = "u", dstCol: String = "v"): DataFrame =
    edges.select(explode(array(col(srcCol), col(dstCol))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))

  /** Max edge count for which [[triangleCount]] broadcasts the edge /
    * degree frames instead of shuffling the (quadratic) wedge stream;
    * the distributed [[kCore]] and [[TextDedup.connectedComponents]]
    * loops broadcast their node-sized frames under the same bound.
    * ~4M edges ≈ 64 MB of raw keys — comfortably inside the broadcast
    * cap on any executor sizing; override per session with
    * `spark.conf.set("graft.broadcastMaxEdges", n)`. */
  private[ext] def broadcastMaxEdges(df: DataFrame): Long =
    df.sparkSession.conf.get("graft.broadcastMaxEdges", "4000000").toLong

  /** Max node count for which the iterative fixpoints (kCore, coreness,
    * LPA, convergent PageRank / PPR, min-label CC) run as a DRIVER LOOP
    * over a pinned adjacency frame, decided by one
    * [[ScaleGate.collectUnder]] of the node-sized frame that seeds the
    * loop: the node→value map is collected once and the rounds run in
    * [[ScaleGate.driverRounds]], ONE job each (adjacency scan + per-row
    * kernel — no join, no shuffle, no per-round materialization or
    * probe jobs).
    * The value frame is node-sized by definition, so collecting it is
    * the same data volume the per-round broadcast join ships anyway
    * (guide §8 — broadcast the plan); beyond the bound the distributed
    * join loops below are unchanged. Override per session with
    * `spark.conf.set("graft.driverLoopMaxNodes", n)`. */
  private[ext] def driverLoopMaxNodes(df: DataFrame): Long =
    df.sparkSession.conf.get("graft.driverLoopMaxNodes", "1000000").toLong

  private[ext] def isLongType(df: DataFrame, colName: String): Boolean =
    df.schema(colName).dataType ==
      org.apache.spark.sql.types.LongType

  /** Exact triangle count via degree-ordered orientation
    * (Schank / Suri–Vassilvitskii): each edge points from its
    * (degree, id)-smaller endpoint to the larger, so every node's
    * OUT-degree is O(√m) and the wedge join (out-neighbors ×
    * out-neighbors per node) is O(m^1.5) worst-case — a hub's fan-out
    * is absorbed by orientation instead of detonating Σ deg². A
    * triangle is a wedge (y, z) out of x whose closing edge (y, z) is
    * itself oriented — counted exactly once.
    *
    * The orientation key must be INJECTIVE over (degree, id) — a fixed
    * `d * C + id` encoding collides as soon as ids reach C, silently
    * conflating nodes in the wedge join. Two injective layouts, picked
    * at runtime from two bounded scalar reads (max id, max degree):
    * the narrow 8-byte `degree * (maxId+1) + id` when it provably
    * cannot overflow a long (every realistic graph — the wedge join
    * shuffles tens of millions of keys, so key width is wall-clock),
    * else lexicographic `struct(degree, id)` (correct for ANY range).
    *
    * @param assumeCanonical input is already (u < v, distinct, no
    *   self-loops) AND materialized/cheap-to-reuse — the operator skips
    *   its own canonicalize+checkpoint pass (q152 passes its
    *   localCheckpointed edge set); with false, the pair list is
    *   normalized and pinned here
    * @return one row: (n_triangles)
    */
  def triangleCount(edges: DataFrame,
      srcCol: String = "u", dstCol: String = "v",
      assumeCanonical: Boolean = false): DataFrame = {
    // reused 3×: degrees + both wedge-join sides feed off the same set
    val e =
      if (assumeCanonical) edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      else ScaleGate.materialize(canonicalEdges(edges, srcCol, dstCol))
    val deg = degrees(e)
    // ONE bounded scalar read over the pinned edge set picks the key
    // layout: the narrow key needs ids in [0, maxId] (injectivity +
    // the same lexicographic order as struct(d, id)) and no long
    // overflow — edge COUNT is a sufficient upper bound for any degree,
    // so no extra pass over the degree frame is needed
    val bounds = e.agg(
      min(least(col("u"), col("v")).cast("long")),
      max(greatest(col("u"), col("v")).cast("long")),
      count(lit(1))).head()
    val (minId, maxId, maxDegBound) =
      if (bounds.isNullAt(0)) (0L, 0L, 0L)
      else (bounds.getLong(0), bounds.getLong(1), bounds.getLong(2))
    val fitsLong = minId >= 0 &&
      maxDegBound <= (Long.MaxValue - maxId) / (maxId + 1)
    def ordOf(d: Column, id: Column): Column =
      if (fitsLong) d * (maxId + 1) + id else struct(d, id)
    // The SAME edge-count read gates the join strategy (guide §3.1):
    // when the edge set fits a broadcast, the wedge stream — the
    // O(m^1.5) QUADRATIC intermediate — must never hit an exchange.
    // Measured at sf0.1 before this gate: the wedge join shuffled
    // ~700 MB (343 MB write + 356 MB read) to close triangles over a
    // ~12 MB edge set. Degrees (≤ 2·edges rows) broadcast under the
    // same bound, removing both edge-side orientation shuffles. Beyond
    // the bound (a graph whose edge list outgrows one executor) the
    // shuffling plan below is unchanged — the decision input is the
    // bounds row this operator already reads.
    val small = maxDegBound <= broadcastMaxEdges(e)
    def maybeB(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val withOrd = e
      .join(maybeB(deg.select(col("node").as("u"),
        ordOf(col("degree"), col("node")).as("ou"))), "u")
      .join(maybeB(deg.select(col("node").as("v"),
        ordOf(col("degree"), col("node")).as("ov"))), "v")
    val oriented = ScaleGate.materialize(
      withOrd.select(
          when(col("ou") < col("ov"),
            struct(col("ou").as("lo"), col("ov").as("hi")))
            .otherwise(struct(col("ov").as("lo"), col("ou").as("hi"))).as("e"))
        .select(col("e.lo"), col("e.hi")))
    if (fitsLong) {
      // Adjacency-intersection close (r18, guide §1.2 step 2 — fix the
      // per-task work once the shape is right): the wedge formulation
      // below materializes every wedge as a join row (O(Σ deg²) rows
      // through the join machinery) and hash-probes each against the
      // edge set. The classic edge-iterator form does the identical
      // count with no wedge rows at all: one groupBy over the oriented
      // edges builds each node's SORTED out-neighbor array (out-degree
      // ≤ O(√m) by the degree orientation), and each oriented edge
      // (lo, hi) closes exactly |adj(lo) ∩ adj(hi)| triangles — every
      // common out-neighbor w has lo < hi < w in orientation order, so
      // each triangle is counted once, at its lowest edge. The
      // intersection is an allocation-free codegen'd merge of two
      // sorted long arrays. Measured at sf0.1: q152 steady 8.0 → 4.2 s
      // (the wedge close's 27.8 s stage task time collapses).
      //
      // r19: the same close now covers the BEYOND-BROADCAST regime
      // (guide §2 — shuffle fewer bytes): under the bound the adjacency
      // frame broadcasts (zero exchanges past the groupBy); beyond it
      // the two attach joins run as PARTITIONED (shuffled) joins — the
      // adjacency payload is edge-sized in total and the second join
      // carries Σ outdeg² longs, the same asymptotic volume as the
      // wedge stream but as contiguous array bytes instead of one join
      // row per wedge (no per-wedge row overhead, no per-wedge hash
      // probe — the close stays the codegen'd merge). The adjacency
      // subtree is IDENTICAL on both sides (renames sit above the
      // aggregate), so its build shuffle is planned once and reused.
      // Long keys only (fitsLong); the struct-key fallback keeps the
      // wedge plan below.
      val adj = oriented.groupBy(col("lo"))
        .agg(sort_array(collect_list(col("hi"))).as("nb"))
      oriented
        .join(maybeB(adj.select(col("lo"), col("nb").as("nb_lo"))),
          Seq("lo"))
        .join(maybeB(adj.select(col("lo").as("hi"), col("nb").as("nb_hi"))),
          Seq("hi"), "left")
        .agg(coalesce(sum(when(col("nb_hi").isNull, lit(0L))
          .otherwise(graft.plans.GraphExpressions
            .sortedIntersectCount(col("nb_lo"), col("nb_hi")))), lit(0L))
          .as("n_triangles"))
    } else wedgeClose(oriented, maybeB)
  }

  /** The wedge-join triangle close — the struct-key fallback of
    * [[triangleCount]] (ids that do not fit the long key): every wedge
    * materializes as a join row and hash-probes the oriented edge set. Wedges are
    * distinct by construction (distinct edges ⇒ distinct (x, y, z)),
    * so the closing inner join counts each triangle once. */
  private def wedgeClose(oriented: DataFrame,
      maybeB: DataFrame => DataFrame): DataFrame =
    oriented.as("e1")
      .join(maybeB(oriented.as("e2")),
        col("e1.lo") === col("e2.lo") && col("e1.hi") < col("e2.hi"))
      .select(col("e1.hi").as("lo"), col("e2.hi").as("hi"))
      .join(maybeB(oriented), Seq("lo", "hi"))
      .agg(count(lit(1)).as("n_triangles"))

  /** Integer PageRank (Pregel's join+agg layout in DataFrames) over a
    * DIRECTED edge list — pass each undirected edge in both directions
    * for the symmetric case (q134). Ranks are BIGINT parts-per-trillion
    * with 0.85 damping; every step is exact positive integer division,
    * so ranks are bit-identical cross-engine and run-to-run — which
    * also makes TRUE fixpoint detection possible (floats only ever
    * approach it): with `checkConvergence` the loop stops as soon as a
    * superstep changes no rank. Early stop never changes the result —
    * a superstep is a deterministic function of the rank vector, so
    * once fixed it stays fixed; integer rank cycles (the analogue of
    * float oscillation) simply run to `maxIterations`.
    *
    * It is [[personalizedPageRank]] with every src node a seed: each
    * of the N src nodes restarts with 0.15·10¹²/N and starts at
    * 10¹²/N, and both run the same superstep loop.
    *
    * Scale: edges are repartitioned by src BEFORE pinning, so every
    * superstep's edge-side join exchange is pre-satisfied — only the
    * (node-sized) rank frame and the dst aggregation shuffle per step;
    * degrees and N are computed once. State pinned per step
    * ([[ScaleGate.materialize]]).
    *
    * @return (node, d, r): out-degree and rank in parts-per-trillion
    */
  def pageRank(edges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      maxIterations: Int = 20, checkConvergence: Boolean = true): DataFrame = {
    require(maxIterations >= 1, s"maxIterations must be >= 1, got $maxIterations")
    val e = edgesBySrc(edges, srcCol, dstCol)
    val deg = ScaleGate.materialize(
      e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d")))
    supersteps(e, deg.withColumn("seed", lit(true)), maxIterations,
      checkConvergence)
  }

  /** Personalized PageRank — [[pageRank]] with the restart mass
    * concentrated on a SEED set instead of spread uniformly: ranks
    * measure proximity to the seeds (random walk with 15% restart
    * probability INTO the seeds), the standard "expand this curated
    * whitelist / find docs related to these" graph primitive.
    *
    * Same integer doctrine as [[pageRank]]: ranks are BIGINT
    * parts-per-trillion, restart mass 0.15·10¹²/|S| exactly on each
    * seed, contributions `r div d` — bit-identical cross-engine and
    * run-to-run, true fixpoint detection. Walk mass reaching a node
    * with no out-edges leaves the tracked universe (no dangling
    * redistribution — ranks are a PROXIMITY score, not a normalized
    * distribution; same contract as [[pageRank]]'s src-node universe).
    * Seeds without out-edges still receive restart mass (they join the
    * node universe with d = 0 and simply forward nothing).
    *
    * Scale: identical shape to [[pageRank]] — edges repartitioned on
    * src once, per step one join + one dst agg; the seed frame touches
    * the loop only through the pinned base frame.
    *
    * @param seeds one column (`seedCol`) of seed node ids
    * @return (node, d, r): out-degree and proximity rank (ppt)
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      seedCol: String = "node",
      maxIterations: Int = 20, checkConvergence: Boolean = true): DataFrame = {
    require(maxIterations >= 1, s"maxIterations must be >= 1, got $maxIterations")
    val e = edgesBySrc(edges, srcCol, dstCol)
    val seedSet = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("seed", lit(true))
    val base = ScaleGate.materialize(
      e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
        .join(seedSet, Seq("node"), "full_outer")
        .select(col("node"), coalesce(col("d"), lit(0L)).as("d"),
          col("seed").isNotNull.as("seed")))
    supersteps(e, base, maxIterations, checkConvergence)
  }

  /** The (src, dst) edge list repartitioned on src and pinned. */
  private def edgesBySrc(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    ScaleGate.materialize(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .repartition(col("src")))

  /** The PageRank superstep loop over the pinned edges `e` and the node
    * universe `base (node, d, seed)`, built over pinned frames. Each of
    * the |S| seeds restarts with rst = 0.15·10¹² div |S| and starts at
    * r0 = 10¹² div |S|; every other node has rst = r0 = 0. Each
    * superstep is `r' = rst + (85 · Σ_{in-edges} r div d) div 100`; one
    * join (edges ⋈ ranks) + one dst aggregation when distributed. */
  private def supersteps(e: DataFrame, base: DataFrame, maxIterations: Int,
      checkConvergence: Boolean): DataFrame = {
    // driver loop ONLY in convergence mode. The fixed-round mode plans
    // ONE lazy unrolled superstep chain with no per-round jobs at all —
    // measured FASTER than the driver loop's per-round collect
    // round-trips (q134: 2.4 s lazy vs 2.9 s driver-looped), so it
    // stays lazy and pays no gate job. In convergence mode ONE bounded
    // collect of the node universe answers the gate and seeds the loop.
    val driverBase =
      if (checkConvergence && isLongType(base, "node"))
        ScaleGate.collectUnder(base, driverLoopMaxNodes(base)).filter(_.nonEmpty)
      else None
    driverBase.foreach { rows =>
      val nSeeds = rows.count(_.getBoolean(2))
      def mass(total: Long)(b: Row): Long = if (b.getBoolean(2)) total / nSeeds else 0L
      // reverse adjacency over the whole universe: a node without
      // in-edges gets empty `nbs` and so its restart mass
      val radj = ScaleGate.materialize(
        base.select(col("node").as("dst")).join(e, Seq("dst"), "left")
          .groupBy(col("dst").as("node")).agg(collect_list(col("src")).as("nbs")))
      val dRst = e.sparkSession.sparkContext.broadcast(
        (ScaleGate.nodeMap(rows)(_.getLong(1)), ScaleGate.nodeMap(rows)(mass(150000000000L))))
      val (r, _) = try ScaleGate.driverRounds(radj,
          ScaleGate.nodeMap(rows)(mass(1000000000000L)), maxIterations) { (m, node, ins) =>
        val (dm, rm) = dRst.value
        rm.get(node) + 85L * ins.map(u => m.get(u) / dm.get(u)).sum / 100L
      } finally dRst.unpersist(false)
      import e.sparkSession.implicits._
      return rows.toSeq.map(b => (b.getLong(0), b.getLong(1), r.get(b.getLong(0)).longValue))
        .toDF("node", "d", "r")
    }
    // restart masses stay lazy over the pinned base: pinning them in
    // place of the degrees measured one job more for q134 (17 → 18)
    val masses = base
      .crossJoin(broadcast(base.filter(col("seed")).agg(count(lit(1)).as("ns"))))
      .select(col("node"), col("d"),
        when(col("seed"), expr("150000000000 div ns")).otherwise(lit(0L)).as("rst"),
        when(col("seed"), expr("1000000000000 div ns")).otherwise(lit(0L)).as("r0"))
    var ranks = masses.select(col("node"), col("d"), col("r0").as("r"))
    var iter = 0
    var converged = false
    while (iter < maxIterations && !converged) {
      // a node with d = 0 is no src of `e`: the join never divides by it
      val acc = e
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), expr("r div d").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("acc"))
      val step = masses
        .join(acc, col("node") === col("dst"), "left")
        .select(col("node"), col("d"),
          (col("rst") + expr("(85 * coalesce(acc, 0L)) div 100")).as("r"))
      if (checkConvergence) {
        // the convergence probe executes the step anyway — pin it so
        // the probe and the next superstep share one materialization
        val next = ScaleGate.materialize(step)
        converged = next.alias("a")
          .join(ranks.alias("b"), expr("a.node = b.node AND a.r <> b.r"))
          .isEmpty
        ranks = next
      } else ranks = step // bounded fixed-round unroll: lazy like q134's
      iter += 1
    }
    ranks
  }

  /** k-core decomposition to FIXPOINT: repeatedly drop nodes whose
    * current degree is below k until a pass removes nothing — removals
    * cascade, so the surviving subgraph is the maximal one where every
    * node has degree ≥ k (the classic peeling algorithm). The q157
    * catalog query is the fixed-depth (3-round) oracle instance of this
    * loop; this operator is what a user reaching for "the k-core"
    * actually gets.
    *
    * Scale shape: each round is one degree agg + two semi joins on a
    * SHRINKING edge set; state is pinned per round
    * ([[ScaleGate.materialize]]) so plans don't grow with rounds.
    * Convergence is a filter on the materialized degree frame — no
    * extra join. Rounds needed equal the
    * peel depth of the graph (typically small); a graph that somehow
    * exceeds `maxRounds` raises rather than returning a half-peeled
    * subgraph.
    *
    * @return surviving nodes with their core degrees: (node, degree),
    *         every degree ≥ k; empty when the k-core is empty
    */
  def kCore(edges: DataFrame, k: Int,
      srcCol: String = "u", dstCol: String = "v",
      assumeCanonical: Boolean = false, maxRounds: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val canon =
      if (assumeCanonical) edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      else canonicalEdges(edges, srcCol, dstCol)
    var e = ScaleGate.materialize(canon)
    // ONE bounded collect of the node ids answers the gate and seeds the
    // driver loop ([[ScaleGate.collectUnder]]); the degree frame is
    // materialized only on the distributed path
    val nodes0 = degrees(e).select(col("node"))
    val driverNodes =
      if (isLongType(nodes0, "node"))
        ScaleGate.collectUnder(nodes0, driverLoopMaxNodes(nodes0))
      else None
    // A half-peeled subgraph would silently overstate the core — refuse.
    val refusal = s"kCore did not reach fixpoint in $maxRounds rounds " +
      "(peel depth exceeds maxRounds); raise maxRounds"
    driverNodes.foreach { nodeRows =>
      // Driver-loop peel over the FULL adjacency, pinned once: a node's
      // value is its degree within the keep set (the nodes whose value
      // is >= k; every node starts at k), or -1 once dropped. A round
      // is one distributed peel round: the fixpoint is a round where no
      // kept node fell to 1..k-1, and a kept node left with no kept
      // neighbor (0) leaves silently, as it leaves the distributed
      // loop's edge set — so both regimes return or refuse at the
      // same maxRounds.
      val adj = ScaleGate.materialize(
        e.select(col("u").as("node"), col("v").as("nb"))
          .union(e.select(col("v").as("node"), col("u").as("nb")))
          .groupBy(col("node")).agg(collect_list(col("nb")).as("nbs")))
      val (m, held) = ScaleGate.driverRounds(adj, ScaleGate.nodeMap(nodeRows)(_ => k),
          maxRounds, (_, next) => !next.values.asScala.exists(v => v > 0 && v < k)) {
        (m, node, nbs) =>
          if (m.get(node) < k) -1L else nbs.count(nb => m.get(nb) >= k).toLong
      }
      if (!held) throw new IllegalStateException(refusal)
      m.values.removeIf(_ < k)
      return ScaleGate.nodeFrame(edges.sparkSession, m, "degree")
    }
    var round = 0
    while (round < maxRounds) {
      val deg = ScaleGate.materialize(degrees(e))
      // ONE scalar read answers both loop questions — fixpoint ("any
      // node below k?", the old isEmpty probe) AND the node count that
      // gates the keep-list join strategy below (guide §3.1): a
      // node-sized keep list under the broadcast bound turns the two
      // semi joins into map-side filters over the pinned edge blocks —
      // zero exchanges per peel round where the default plan shuffled
      // the (shrinking) edge set twice per round.
      val stats = deg.agg(count(lit(1)),
        sum(when(col("degree") < k, 1L).otherwise(0L))).head()
      val (nNodes, nBelow) = (stats.getLong(0),
        if (stats.isNullAt(1)) 0L else stats.getLong(1))
      if (nBelow == 0L)
        return deg // fixpoint: every surviving node already has deg >= k
      val keep = deg.filter(col("degree") >= k)
      def maybeB(df: DataFrame): DataFrame =
        if (nNodes <= broadcastMaxEdges(deg)) broadcast(df) else df
      e = ScaleGate.materialize(
        e.join(maybeB(keep.select(col("node").as("u"))), Seq("u"), "left_semi")
          .join(maybeB(keep.select(col("node").as("v"))), Seq("v"), "left_semi")
          .select(col("u"), col("v")))
      round += 1
    }
    throw new IllegalStateException(refusal)
  }

  /** Full core decomposition: label EVERY node with its core number
    * (the largest k such that the node survives in the k-core) — the
    * cohesion profile a curation team asks for, where [[kCore]] answers
    * only a single membership question.
    *
    * Algorithm: h-index iteration (Lü, Zhou, Zhang & Stanley 2016,
    * "The H-index of a network node and its relation to degree and
    * coreness"): h⁰(v) = deg(v); each round every node simultaneously
    * replaces its value with the H-index of its neighbors' previous
    * values (the largest h such that ≥ h neighbors have value ≥ h).
    * The sequence is non-increasing, bounded below by the core number,
    * and converges to EXACTLY the core number — so the fixpoint is the
    * full decomposition in one synchronous loop, instead of running
    * the [[kCore]] peel once per k (degeneracy × peel-depth rounds).
    *
    * Scale shape: per round, one keyed join (neighbor list ⋈ values,
    * exchange pre-satisfied by pinning the neighbor list partitioned on
    * the join key) + one node-KEYED window rank + one keyed agg — no
    * global window, no driver data. The H-index per node reads the
    * neighbor values sorted descending: h = max rank r with value_r ≥ r
    * (the prefix property — values are sorted, so the qualifying ranks
    * are a prefix). Rounds needed can reach the graph's propagation
    * depth (a long path relaxes one hop per round — same lower bound as
    * any synchronous peel), so state is pinned per round and
    * convergence is a join-emptiness probe sharing the step's
    * materialization (the [[pageRank]] pattern). Hitting `maxRounds`
    * UNconverged raises — a half-converged value OVERSTATES coreness
    * (the [[kCore]] refuse contract).
    *
    * @return (node, coreness) for every node with at least one edge;
    *         isolated nodes (coreness 0) don't appear, as in [[degrees]]
    */
  def coreness(edges: DataFrame,
      srcCol: String = "u", dstCol: String = "v",
      assumeCanonical: Boolean = false, maxRounds: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the nb-repartitioned neighbor pin is built only on the distributed
    // path: the driver loop never joins on nb. canon is pinned
    // when this operator built it (assumeCanonical callers pass a
    // materialized set — the [[triangleCount]] reuse contract), so each
    // nbrRaw execution is two cheap block reads.
    val canon =
      if (assumeCanonical) edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      else ScaleGate.materialize(canonicalEdges(edges, srcCol, dstCol))
    val nbrRaw = canon.select(col("u").as("node"), col("v").as("nb"))
      .union(canon.select(col("v").as("node"), col("u").as("nb")))
    val h0 = nbrRaw.groupBy(col("node")).agg(count(lit(1)).as("h"))
    // ONE bounded collect of the node-sized degree frame answers the
    // gate and seeds the driver loop ([[ScaleGate.collectUnder]]); the
    // materialize + count below run only on the distributed path
    val driverH =
      if (isLongType(h0, "node"))
        ScaleGate.collectUnder(h0, driverLoopMaxNodes(h0))
      else None
    val refusal = s"coreness did not reach fixpoint in $maxRounds rounds " +
      "(propagation depth exceeds maxRounds); raise maxRounds"
    driverH.foreach { hRows =>
      // Driver-loop fixpoint: the h-vector is node-sized, so each
      // H-application is ONE job over the pinned adjacency — profiled at
      // sf0.1/q179, the distributed chain's 87 jobs were wall dominated
      // by scheduling, task time a fraction. Arithmetic is EXACTLY
      // hStep's: h = max rank r (neighbor values sorted desc) with
      // value_r >= r; map equality ≡ the monotone sum compare.
      val adj = ScaleGate.materialize(
        nbrRaw.groupBy(col("node")).agg(collect_list(col("nb")).as("nbs")))
      val (m, held) = ScaleGate.driverRounds(adj,
          ScaleGate.nodeMap(hRows)(_.getLong(1)), maxRounds) { (m, _, nbs) =>
        val vs = nbs.map(nb => m.get(nb).longValue).toArray
        java.util.Arrays.sort(vs)
        var h = 0
        while (h < vs.length && vs(vs.length - 1 - h) > h) h += 1
        h.toLong
      }
      // values are only an UPPER bound until the fixpoint — refuse.
      if (!held) throw new IllegalStateException(refusal)
      return ScaleGate.nodeFrame(edges.sparkSession, m, "coreness")
    }
    // Static across rounds — pinned with persist(), NOT a checkpoint:
    // an InMemoryRelation REPORTS its hashpartitioning(nb) to the
    // planner, so every round's value join genuinely reuses this one
    // exchange, where a checkpoint scan comes back as
    // UnknownPartitioning and the edge-sized side re-exchanges every
    // H-application (visible in the r19 forced plan dumps). Lineage
    // truncation is not needed here: nbr is built once and never
    // rewritten (unlike the loop STATE frames, which stay on
    // [[ScaleGate.materialize]]).
    val nbr = nbrRaw.repartition(col("nb")).persist()
    def hStep(cur: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("node")).orderBy(col("val").desc)
      // the node-sized value side is the shuffle-hash build: the pinned
      // edge-sized nbr side is never re-sorted (as under SMJ) and the
      // value frame moves once per round instead of being re-broadcast.
      // r19 Stress A/Bs (OPTIMIZATION_r19.md §7): shuffle_hash beat
      // broadcast and SMJ at every measured scale, for coreness and LPA
      nbr
        .join(cur.select(col("node").as("nb"), col("h").as("val"))
          .hint("shuffle_hash"), "nb")
        .select(col("node"), col("val"))
        .withColumn("r", row_number().over(w))
        .groupBy(col("node"))
        // ties in `val` need no tiebreaker: H depends only on the
        // multiset (sorted desc, h = max prefix rank with val_r >= r);
        // cast keeps the value LONG across rounds (row_number is int,
        // the round-0 degree is long — the schema must not flip)
        .agg(max(when(col("val") >= col("r"), col("r"))).cast("long").as("h"))
    }
    // the h-index sequence is monotone NON-INCREASING per node (Lü et
    // al. 2016, Thm 1 — h⁰ = degree, each application can only lower a
    // value); the result is checkpoint-materialized, independent of the pin
    try ScaleGate.monotoneRounds(ScaleGate.materialize(h0), "h",
        maxRounds, refusal)(hStep)
      .select(col("node"), col("h").as("coreness"))
    finally nbr.unpersist(false)
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * LPA, made DETERMINISTIC): every node starts labeled with its own id;
    * each round every node simultaneously adopts the most frequent label
    * among its neighbors' PREVIOUS-round labels, ties broken by the
    * smallest label. Densely connected regions converge to one label;
    * bridges stay thin because a minority label can't outvote a
    * community.
    *
    * Determinism: the classic formulation breaks ties randomly and
    * updates asynchronously in random node order — neither survives a
    * distributed engine or a bit-exact gate. Synchronous rounds + the
    * (count DESC, label ASC) argmax make every round a pure function of
    * the previous labeling, so results are identical across engines,
    * partitionings, and reruns.
    *
    * Iteration contract: synchronous LPA may OSCILLATE on bipartite-ish
    * structures (a 2-cycle of labelings), so unlike [[kCore]] hitting
    * `maxRounds` is not an error — the operator returns the round-R
    * labeling, and `earlyStop` (on by default) exits when a round
    * changes nothing (further rounds are identity since each round is a
    * deterministic function of the labeling). Fixed-round semantics are
    * what the q165 oracle unrolls.
    *
    * Scale shape: one keyed join (neighbor list ⋈ labels) + one
    * (node, label) count agg + one node-KEYED window argmax per round —
    * no global window, no driver data. The neighbor list is built and
    * pinned once; per-round state is pinned
    * ([[ScaleGate.materialize]]). The early-stop probe
    * pins the step it executes, so probe + next round share one
    * materialization (the [[pageRank]] pattern).
    *
    * @return (node, label) — every node that has at least one edge
    */
  def labelPropagation(edges: DataFrame, maxRounds: Int = 10,
      srcCol: String = "u", dstCol: String = "v",
      assumeCanonical: Boolean = false, earlyStop: Boolean = true): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    // the nb-repartitioned neighbor pin is built only on the distributed
    // path, as in [[coreness]]: the driver loop never joins on nb
    // (profiled at sf0.1/q165, the repartition + pin cost ~0.35 s a run)
    val canon =
      if (assumeCanonical) edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      else ScaleGate.materialize(canonicalEdges(edges, srcCol, dstCol))
    val nbrRaw = canon.select(col("u").as("node"), col("v").as("nb"))
      .union(canon.select(col("v").as("node"), col("u").as("nb")))
    // ONE bounded collect of the node ids answers the gate and seeds the
    // driver loop (every node starts labeled with its own id —
    // [[ScaleGate.collectUnder]]); the label frame is materialized only
    // on the distributed path
    val nodes0 = nbrRaw.select(col("node")).distinct()
    val driverNodes =
      if (isLongType(nodes0, "node"))
        ScaleGate.collectUnder(nodes0, driverLoopMaxNodes(nodes0))
      else None
    driverNodes.foreach { nodeRows =>
      // Driver-loop rounds: per-row argmax of the neighbors' mapped
      // labels, (count DESC, label ASC) exactly as lpaStep's two-level
      // agg; round accounting is the EXACT single-step semantics the
      // oracle unrolls, and earlyStop's test is map equality.
      val adj = ScaleGate.materialize(
        nbrRaw.groupBy(col("node")).agg(collect_list(col("nb")).as("nbs")))
      val (m, _) = ScaleGate.driverRounds(adj,
          ScaleGate.nodeMap(nodeRows)(_.getLong(0)), maxRounds,
          (cur, next) => earlyStop && next == cur) { (m, _, nbs) =>
        val ls = nbs.map(nb => m.get(nb).longValue).toArray
        java.util.Arrays.sort(ls)
        // longest run wins; ties keep the SMALLEST label — the ascending
        // sort visits labels smallest-first and only a strictly greater
        // count replaces the champion
        var (best, bestC, i) = (ls(0), 0, 0)
        while (i < ls.length) {
          var j = i
          while (j < ls.length && ls(j) == ls(i)) j += 1
          if (j - i > bestC) { bestC = j - i; best = ls(i) }
          i = j
        }
        best
      }
      return ScaleGate.nodeFrame(edges.sparkSession, m, "label")
    }
    var labels = ScaleGate.materialize(
      nodes0.withColumn("label", col("node")))
    // distributed regime: label-join exchange pre-satisfied by pinning
    // the neighbor list partitioned on the join key
    // static across rounds — persist() pin, NOT a checkpoint: keeps
    // hashpartitioning(nb) visible so the per-round label join reuses
    // this one exchange (see the [[coreness]] pin note)
    val nbr = nbrRaw.repartition(col("nb")).persist()
    // argmax by (count DESC, label ASC) as min(struct(-c, label)) —
    // a two-level hash agg with map-side partial combine instead of
    // a per-node window sort (-c is safe: 1 <= c <= n). Both aggs
    // hash-partition on the same `node` key.
    def lpaStep(cur: DataFrame): DataFrame = nbr
      // shuffle-hash value side: the [[coreness]] hStep note
      .join(cur.withColumnRenamed("node", "nb").hint("shuffle_hash"), "nb")
      .groupBy(col("node"), col("label")).agg(count(lit(1)).as("c"))
      .groupBy(col("node"))
      .agg(min(struct((-col("c")).as("nc"), col("label"))).as("best"))
      .select(col("node"), col("best.label").as("label"))
    // TWO synchronous rounds per materialization: the loop's profiled
    // cost at bench scale is per-round fixed overhead (planning + job
    // scheduling), so halving the materialization/probe count halves
    // the loop latency. Semantics are EXACTLY fixed-round LPA:
    //  - an odd maxRounds runs one single leading round so the doubled
    //    loop covers an even remainder — total applications always
    //    equal maxRounds when no early stop fires;
    //  - earlyStop now tests the 2-round composite F = H∘H. On a
    //    converged labeling that is the same test; on a synchronous-LPA
    //    2-CYCLE (the one non-converging topology) F is the identity,
    //    and stopping there returns the labeling an even number of
    //    rounds before round maxRounds — the identical frame fixed
    //    rounds would return, since the remaining F-applications are
    //    identities. Either way the returned labeling is unchanged.
    try {
      var round = 0
      var converged = false
      if (maxRounds % 2 == 1) {
        labels = ScaleGate.materialize(lpaStep(labels))
        round = 1
      }
      while (round < maxRounds && !converged) {
        val next = ScaleGate.materialize(lpaStep(lpaStep(labels)))
        if (earlyStop)
          converged = next.alias("a")
            .join(labels.alias("b").hint("shuffle_hash"),
              expr("a.node = b.node AND a.label <> b.label"))
            .isEmpty
        labels = next
        round += 2
      }
      labels // checkpoint-materialized — independent of the pin
    } finally nbr.unpersist(false)
  }
}
