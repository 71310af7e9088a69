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
    * loops broadcast their node-sized frames under the same bound, and
    * every graph fixpoint holds its whole graph on the driver under it
    * ([[driverRows]]). ~4M edges ≈ 64 MB of raw keys — comfortably
    * inside the broadcast cap on any executor sizing. At the bound a
    * driver-path coreness (4M edges, ~1M nodes, local[2]) measured
    * 13–14 s and at most 0.56 GB of post-GC heap above its pinned input,
    * executor side included. Override per session with
    * `spark.conf.set("graft.broadcastMaxEdges", n)`. */
  private[ext] def broadcastMaxEdges(df: DataFrame): Long =
    df.sparkSession.conf.get("graft.broadcastMaxEdges", "4000000").toLong

  /** The gate of every graph fixpoint: ONE bounded collect of `df` (an
    * edge list, or a node frame the result must cover) under
    * [[broadcastMaxEdges]], before any pin ([[ScaleGate.collectLongs]]).
    * Some(rows) puts the whole fixpoint on the driver
    * ([[ScaleGate.fixpoint]], no job per round); None (over the bound,
    * non-LONG ids, or a null id) leaves it to the distributed loop. */
  private[ext] def driverRows(df: DataFrame): Option[Array[Long]] =
    if (df.schema.forall(_.dataType == org.apache.spark.sql.types.LongType))
      ScaleGate.collectLongs(df, broadcastMaxEdges(df))
    else None

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
    * Scale: when the edge list fits the graph bound ([[driverRows]]),
    * its one collect is the only job and every superstep, fixed-round
    * or convergent, is a driver loop. Past it, edges are repartitioned
    * by src BEFORE pinning, so every superstep's edge-side join
    * exchange is pre-satisfied — only the (node-sized) rank frame and
    * the dst aggregation shuffle per step; degrees and N are computed
    * once. State pinned per step ([[ScaleGate.materialize]]) with
    * `checkConvergence`; the fixed rounds stay one lazy chain.
    *
    * @return (node, d, r): out-degree and rank in parts-per-trillion
    */
  def pageRank(edges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      maxIterations: Int = 20, checkConvergence: Boolean = true): DataFrame = {
    require(maxIterations >= 1, s"maxIterations must be >= 1, got $maxIterations")
    ranks(new ScaleGate.Labels(edges.sparkSession, "Graph.pageRank"),
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")), None,
      maxIterations, checkConvergence)
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
    * Scale: identical shape to [[pageRank]]; the seed frame is
    * collected under the same bound as the edges (driver loop), or
    * touches the distributed loop only through the pinned base frame.
    *
    * @param seeds one column (`seedCol`) of seed node ids
    * @return (node, d, r): out-degree and proximity rank (ppt)
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      seedCol: String = "node",
      maxIterations: Int = 20, checkConvergence: Boolean = true): DataFrame = {
    require(maxIterations >= 1, s"maxIterations must be >= 1, got $maxIterations")
    ranks(new ScaleGate.Labels(edges.sparkSession, "Graph.personalizedPageRank"),
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")),
      Some(seeds.select(col(seedCol).as("node"))),
      maxIterations, checkConvergence)
  }

  /** [[pageRank]] (`seeds` None: every src node is a seed) and
    * [[personalizedPageRank]] over the `(src, dst)` edge list. Each of
    * the |S| seeds restarts with rst = 0.15·10¹² div |S| and starts at
    * r0 = 10¹² div |S|; every other node has rst = r0 = 0. Each
    * superstep is `r' = rst + (85 · Σ_{in-edges} r div d) div 100`. */
  private def ranks(job: ScaleGate.Labels, edges: DataFrame,
      seeds: Option[DataFrame], maxIterations: Int,
      checkConvergence: Boolean): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // ONE bounded collect of the edge list (and of the seed frame) is
    // the gate; a graph that fits runs every superstep, fixed-round or
    // convergent, as a driver loop. q134's 3 fixed supersteps were a
    // lazy unrolled join chain before: ProfileQuery (sf0.01, 4 cores)
    // read 17 jobs / 2.25 s that way and 4 jobs / 0.57 s on the driver
    val driver = job("collect edges")(driverRows(edges)).flatMap { pairs =>
      val srcs = Array.tabulate(pairs.length / 2)(i => pairs(2 * i))
      seeds.fold(Option(srcs))(sd => job("collect seeds")(driverRows(sd)))
        .map(s => (pairs, srcs, ScaleGate.distinctSorted(s)))
    }
    driver.foreach { case (pairs, srcs, seedSet) =>
      // the universe is every src node and every seed; a dst outside it
      // takes the walk mass out of the tracked universe
      val ids = ScaleGate.distinctSorted(srcs ++ seedSet)
      val g = ScaleGate.DriverGraph.inEdges(ids, pairs)
      val d = new Array[Long](ids.length)
      var j = 0
      while (j < pairs.length) { d(g.indexOf(pairs(j))) += 1; j += 2 }
      val seed = ids.map(id => java.util.Arrays.binarySearch(seedSet, id) >= 0)
      def mass(total: Long): Array[Long] =
        seed.map(s => if (s) total / seedSet.length else 0L)
      val rst = mass(150000000000L)
      val (r, _) = ScaleGate.fixpoint(g, mass(1000000000000L), maxIterations,
          if (checkConvergence) java.util.Arrays.equals(_: Array[Long], _: Array[Long])
          else (_, _) => false) { (m, v) =>
        var acc = 0L
        var k = g.offsets(v)
        while (k < g.offsets(v + 1)) {
          val u = g.nbrs(k)
          acc += m(u) / d(u)
          k += 1
        }
        rst(v) + 85L * acc / 100L
      }
      return ids.indices.map(i => (ids(i), d(i), r(i))).toDF("node", "d", "r")
    }
    // distributed: edges repartitioned on src and pinned, degrees (and
    // the seed universe) pinned once
    val e = job("pin edges")(ScaleGate.materialize(edges.repartition(col("src"))))
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    val base = job("pin degrees")(ScaleGate.materialize(seeds match {
      case None => deg.withColumn("seed", lit(true))
      case Some(sd) => deg
        .join(sd.distinct().withColumn("seed", lit(true)), Seq("node"), "full_outer")
        .select(col("node"), coalesce(col("d"), lit(0L)).as("d"),
          col("seed").isNotNull.as("seed"))
    }))
    job("supersteps")(supersteps(e, base, maxIterations, checkConvergence))
  }

  /** The distributed PageRank superstep loop over the pinned edges `e`
    * and the node universe `base (node, d, seed)`: one join (edges ⋈
    * ranks) + one dst aggregation per superstep. */
  private def supersteps(e: DataFrame, base: DataFrame, maxIterations: Int,
      checkConvergence: Boolean): DataFrame = {
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
      } else ranks = step // past the bound, the fixed rounds stay one lazy chain
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
    * Scale shape: within the graph bound ([[driverRows]]) the peel is a
    * driver loop after one edge collect. Past it each round is one
    * degree agg + two semi joins on a SHRINKING edge set; state is
    * pinned per round ([[ScaleGate.materialize]]) so plans don't grow
    * with rounds.
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
    val job = new ScaleGate.Labels(edges.sparkSession, "Graph.kCore")
    val canon =
      if (assumeCanonical) edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      else canonicalEdges(edges, srcCol, dstCol)
    // A half-peeled subgraph would silently overstate the core — refuse.
    val refusal = s"kCore did not reach fixpoint in $maxRounds rounds " +
      "(peel depth exceeds maxRounds); raise maxRounds"
    job("collect edges")(driverRows(canon)).foreach { pairs =>
      // Driver-loop peel: a node's value is its degree within the keep
      // set (the nodes whose value is >= k; every node starts at k), or
      // -1 once dropped. A round is one distributed peel round: the
      // fixpoint is a round where no kept node fell to 1..k-1, and a
      // kept node left with no kept neighbor (0) leaves silently, as it
      // leaves the distributed loop's edge set — so both regimes return
      // or refuse at the same maxRounds.
      val g = ScaleGate.DriverGraph.undirected(pairs)
      val (m, held) = ScaleGate.fixpoint(g, Array.fill(g.n)(k.toLong),
          maxRounds, (_, next) => !next.exists(v => v > 0 && v < k)) { (m, v) =>
        if (m(v) < k) -1L
        else {
          var c = 0L
          var j = g.offsets(v)
          while (j < g.offsets(v + 1)) { if (m(g.nbrs(j)) >= k) c += 1; j += 1 }
          c
        }
      }
      if (!held) throw new IllegalStateException(refusal)
      return ScaleGate.nodeFrame(edges.sparkSession, g.ids, m, "degree", _ >= k)
    }
    val e = job("pin edges")(ScaleGate.materialize(canon))
    job("peel rounds")(peel(e, k, maxRounds, refusal))
  }

  /** The distributed [[kCore]] peel over the pinned canonical edges. */
  private def peel(edges: DataFrame, k: Int, maxRounds: Int,
      refusal: String): DataFrame = {
    var e = edges
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
    * Scale shape: within the graph bound ([[driverRows]]) the rounds
    * are a driver loop after one edge collect. Past it, per round, one
    * keyed join (neighbor list ⋈ values, exchange pre-satisfied by
    * pinning the neighbor list partitioned on the join key) + one
    * node-KEYED window rank + one keyed agg — no global window, no
    * driver data. The H-index per node reads the
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
    val job = new ScaleGate.Labels(edges.sparkSession, "Graph.coreness")
    val canonRaw =
      if (assumeCanonical) edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      else canonicalEdges(edges, srcCol, dstCol)
    val refusal = s"coreness did not reach fixpoint in $maxRounds rounds " +
      "(propagation depth exceeds maxRounds); raise maxRounds"
    job("collect edges")(driverRows(canonRaw)).foreach { pairs =>
      // Driver-loop fixpoint from h⁰ = degree: profiled at sf0.1/q179,
      // the distributed chain's 87 jobs were wall dominated by
      // scheduling, task time a fraction. Arithmetic is EXACTLY hStep's:
      // h = max rank r (neighbor values sorted desc) with value_r >= r;
      // array equality ≡ the monotone sum compare.
      val g = ScaleGate.DriverGraph.undirected(pairs)
      val vs = new Array[Long](g.maxDegree)
      val (m, held) = ScaleGate.fixpoint(g,
          Array.tabulate(g.n)(v => g.degree(v).toLong), maxRounds) { (m, v) =>
        val n = g.gather(v, m, vs)
        java.util.Arrays.sort(vs, 0, n)
        var h = 0
        while (h < n && vs(n - 1 - h) > h) h += 1
        h.toLong
      }
      // values are only an UPPER bound until the fixpoint — refuse.
      if (!held) throw new IllegalStateException(refusal)
      return ScaleGate.nodeFrame(edges.sparkSession, g.ids, m, "coreness")
    }
    // distributed: canon is pinned when this operator built it
    // (assumeCanonical callers pass a materialized set — the
    // [[triangleCount]] reuse contract), so each nbrRaw execution is two
    // cheap block reads
    val canon =
      if (assumeCanonical) canonRaw
      else job("pin edges")(ScaleGate.materialize(canonRaw))
    val nbrRaw = canon.select(col("u").as("node"), col("v").as("nb"))
      .union(canon.select(col("v").as("node"), col("u").as("nb")))
    val h0 = nbrRaw.groupBy(col("node")).agg(count(lit(1)).as("h"))
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
    try job("rounds")(ScaleGate.monotoneRounds(ScaleGate.materialize(h0), "h",
        maxRounds, refusal)(hStep))
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
    * Scale shape: within the graph bound ([[driverRows]]) the rounds
    * are a driver loop after one edge collect. Past it, one keyed join
    * (neighbor list ⋈ labels) + one (node, label) count agg + one
    * node-KEYED argmax per round — no global window, no driver data. The neighbor list is built and
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
    val job = new ScaleGate.Labels(edges.sparkSession, "Graph.labelPropagation")
    val canonRaw =
      if (assumeCanonical) edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      else canonicalEdges(edges, srcCol, dstCol)
    job("collect edges")(driverRows(canonRaw)).foreach { pairs =>
      // Driver-loop rounds from every node labeled with its own id:
      // per-node argmax of the neighbors' labels, (count DESC, label
      // ASC) exactly as lpaStep's two-level agg; round accounting is the
      // EXACT single-step semantics the oracle unrolls, and earlyStop's
      // test is array equality.
      val g = ScaleGate.DriverGraph.undirected(pairs)
      val ls = new Array[Long](g.maxDegree)
      val (m, _) = ScaleGate.fixpoint(g, g.ids.clone(), maxRounds,
          (cur, next) => earlyStop && java.util.Arrays.equals(cur, next)) { (m, v) =>
        val n = g.gather(v, m, ls)
        java.util.Arrays.sort(ls, 0, n)
        // longest run wins; ties keep the SMALLEST label — the ascending
        // sort visits labels smallest-first and only a strictly greater
        // count replaces the champion
        var (best, bestC, i) = (ls(0), 0, 0)
        while (i < n) {
          var j = i
          while (j < n && ls(j) == ls(i)) j += 1
          if (j - i > bestC) { bestC = j - i; best = ls(i) }
          i = j
        }
        best
      }
      return ScaleGate.nodeFrame(edges.sparkSession, g.ids, m, "label")
    }
    // distributed: canon pinned as in [[coreness]]
    val canon =
      if (assumeCanonical) canonRaw
      else job("pin edges")(ScaleGate.materialize(canonRaw))
    val nbrRaw = canon.select(col("u").as("node"), col("v").as("nb"))
      .union(canon.select(col("v").as("node"), col("u").as("nb")))
    val nodes0 = nbrRaw.select(col("node")).distinct()
    var labels = job("pin labels")(ScaleGate.materialize(
      nodes0.withColumn("label", col("node"))))
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
    try job("rounds") {
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
