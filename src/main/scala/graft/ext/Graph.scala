package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Graph analytics operators over an undirected edge DataFrame — the
  * library form of the q152/q157 query shapes, with the two properties a
  * production graph job needs that a fixed-depth query cannot provide:
  *
  *  - **fixpoint iteration** ([[kCore]] peels until NOTHING changes,
  *    with the same convergence guard + `checkpointDir` durability
  *    pattern as [[TextDedup.connectedComponents]]);
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

  /** Connected components — delegates to
    * [[TextDedup.connectedComponents]] (min-label propagation,
    * O(diameter) rounds) so the graph shelf exposes the whole family;
    * for adversarial diameters use
    * [[TextDedup.connectedComponentsStar]] (O(log n) rounds). */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
      srcCol: String = "u", dstCol: String = "v", nodeCol: String = "id",
      checkpointDir: Option[String] = None): DataFrame =
    TextDedup.connectedComponents(edges, nodes, srcCol, dstCol, nodeCol,
      checkpointDir = checkpointDir)

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
      itemCol: String): DataFrame = {
    val grouped = rows.groupBy(col(grpCol))
      .agg(sort_array(collect_set(col(itemCol))).as("items"))
    // r19 (guide §2.3 — narrower types shrink the exchange): when the
    // item ids provably fit 32 bits, each (u, v) pair can travel the
    // edge-distinct exchange as ONE packed long (u << 32 | v —
    // injective for 0 ≤ u < v < 2³¹, order-preserving since items are
    // sorted) instead of a two-long row, unpacked right after the
    // distinct — output rows IDENTICAL. Measured at sf0.1 and kept
    // OFF by default: the 32-bit proof costs one min/max scan of the
    // input (no parquet aggregate pushdown on the v1 source), and on
    // the co-order workload (pairs ≈ 3×rows) that scan outweighs the
    // exchange savings — two A/B subset pairs read q160 +0.4 s,
    // q165 +0.3/+0.6 s, q179 +0.2 s with packing ON vs OFF (q152
    // mixed ±). Enable `graft.packEdgeKeys` for quadratic-per-group
    // workloads where the pair exchange dominates the source scan;
    // ids beyond 32 bits keep the two-column path either way.
    val packable = rows.sparkSession.conf
      .get("graft.packEdgeKeys", "false").toBoolean &&
      isLongType(rows, itemCol) && {
        val b = rows.agg(min(col(itemCol)), max(col(itemCol))).head()
        !b.isNullAt(0) && b.getLong(0) >= 0 && b.getLong(1) < (1L << 31)
      }
    if (packable)
      grouped
        .select(explode(flatten(transform(col("items"), (x, i) =>
          transform(slice(col("items"), i + lit(2), size(col("items"))),
            y => shiftleft(x, 32).bitwiseOR(y))))).as("pk"))
        .distinct()
        .select(shiftright(col("pk"), 32).as("u"),
          col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("v"))
    else
      grouped
        .select(explode(flatten(transform(col("items"), (x, i) =>
          transform(slice(col("items"), i + lit(2), size(col("items"))),
            y => struct(x.as("u"), y.as("v")))))).as("e"))
        .select(col("e.u"), col("e.v"))
        .distinct()
  }

  /** Degree of every node with at least one edge. */
  def degrees(edges: DataFrame,
      srcCol: String = "u", dstCol: String = "v"): DataFrame =
    edges.select(explode(array(col(srcCol), col(dstCol))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))

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
    * @param checkpointDir reliable-checkpoint dir for the reused
    *   intermediates; None = localCheckpoint
    * @return one row: (n_triangles)
    */
  /** Max edge count for which [[triangleCount]] broadcasts the edge /
    * degree frames instead of shuffling the (quadratic) wedge stream.
    * ~4M edges ≈ 64 MB of raw keys — comfortably inside the broadcast
    * cap on any executor sizing; override per session with
    * `spark.conf.set("graft.broadcastMaxEdges", n)`. */
  private def broadcastMaxEdges(df: DataFrame): Long =
    df.sparkSession.conf.get("graft.broadcastMaxEdges", "4000000").toLong

  /** Max node count for which the iterative fixpoints (coreness, LPA,
    * min-label CC) run as a DRIVER LOOP over a pinned adjacency frame:
    * the node→value map is collected once, re-broadcast per round, and
    * each round is ONE job (adjacency scan + per-row argmax/h-index —
    * no join, no shuffle, no per-round materialization or probe jobs).
    * The value frame is node-sized by definition, so collecting it is
    * the same data volume the per-round broadcast join ships anyway
    * (guide §8 — broadcast the plan); beyond the bound the distributed
    * join loops below are unchanged. Override per session with
    * `spark.conf.set("graft.driverLoopMaxNodes", n)`. */
  private[ext] def driverLoopMaxNodes(df: DataFrame): Long =
    df.sparkSession.conf.get("graft.driverLoopMaxNodes", "1000000").toLong

  /** Attach the node-sized VALUE frame (h-values / labels) to the
    * pinned, pre-partitioned neighbor frame for a per-round fixpoint
    * join. `graft.valueJoinMode` selects the strategy:
    * `shuffle_hash` (default — hint the value side as the SHJ build:
    * the edge-sized nbr side is never re-sorted AND the value frame
    * moves ONCE per round as a node-sized exchange), `broadcast` (the
    * r18 gate, ≤ [[broadcastMaxEdges]]), anything else = leave the
    * planner alone (SMJ re-sorts the nbr side each round).
    *
    * Default set by r19 Stress A/Bs at the only scales that reach this
    * code (matched-position sequences, min-of-runs): at 2M nodes
    * coreness 18.1 s SHJ / 19.6 plain / 26.6 broadcast, lpa 14.9 /
    * 15.2 / 16.6; at 500k forced-distributed coreness 10.6 / 11.0 /
    * 14.0, lpa 8.3 / 9.2 / 9.5. The r18 broadcast form lost at every
    * measured point: the value frame is node-sized EVERY round (h/label
    * frames never shrink), so per-round broadcast build+ship scales
    * with n × executors while the exchange it avoids moves n rows once
    * — and the nbr side never exchanges under any mode (it is pinned
    * partitioned on the join key). */
  private def valueAttach(df: DataFrame, nNodes: Long): DataFrame =
    df.sparkSession.conf.get("graft.valueJoinMode", "shuffle_hash") match {
      case "broadcast" if nNodes <= broadcastMaxEdges(df) => broadcast(df)
      case "shuffle_hash" => df.hint("shuffle_hash")
      case _ => df
    }

  private[ext] def isLongType(df: DataFrame, colName: String): Boolean =
    df.schema(colName).dataType ==
      org.apache.spark.sql.types.LongType

  def triangleCount(edges: DataFrame,
      srcCol: String = "u", dstCol: String = "v",
      assumeCanonical: Boolean = false,
      checkpointDir: Option[String] = None): DataFrame = {
    // reused 3×: degrees + both wedge-join sides feed off the same set
    val e =
      if (assumeCanonical) edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      else TextDedup.materialize(canonicalEdges(edges, srcCol, dstCol),
        checkpointDir)
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
    val oriented = TextDedup.materialize(
      withOrd.select(
          when(col("ou") < col("ov"),
            struct(col("ou").as("lo"), col("ov").as("hi")))
            .otherwise(struct(col("ov").as("lo"), col("ou").as("hi"))).as("e"))
        .select(col("e.lo"), col("e.hi")),
      checkpointDir)
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
      def maybeBAdj(df: DataFrame): DataFrame =
        if (small) broadcast(df) else df
      // measurement-only escape hatch: force the wedge plan so the two
      // closes stay A/B-able at any scale (Stress/NOTES adjudications);
      // never set in production or by the driver
      if (e.sparkSession.conf
          .get("graft.triangleWedgeClose", "false").toBoolean)
        return wedgeClose(oriented, maybeB)
      val adj = oriented.groupBy(col("lo"))
        .agg(sort_array(collect_list(col("hi"))).as("nb"))
      oriented
        .join(maybeBAdj(adj.select(col("lo"), col("nb").as("nb_lo"))),
          Seq("lo"))
        .join(maybeBAdj(adj.select(col("lo").as("hi"), col("nb").as("nb_hi"))),
          Seq("hi"), "left")
        .agg(coalesce(sum(when(col("nb_hi").isNull, lit(0L))
          .otherwise(graft.plans.GraphExpressions
            .sortedIntersectCount(col("nb_lo"), col("nb_hi")))), lit(0L))
          .as("n_triangles"))
    } else wedgeClose(oriented, maybeB)
  }

  /** The wedge-join triangle close — the struct-key fallback (and the
    * [[triangleCount]] A/B baseline): every wedge materializes as a
    * join row and hash-probes the oriented edge set. Wedges are
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
    * Scale: edges are repartitioned by src BEFORE pinning, so every
    * superstep's edge-side join exchange is pre-satisfied — only the
    * (node-sized) rank frame and the dst aggregation shuffle per step;
    * degrees and N are computed once. State pinned per step
    * (localCheckpoint or reliable `checkpointDir`).
    *
    * @return (node, d, r): out-degree and rank in parts-per-trillion
    */
  def pageRank(edges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      maxIterations: Int = 20, checkConvergence: Boolean = true,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxIterations >= 1, s"maxIterations must be >= 1, got $maxIterations")
    val e = TextDedup.materialize(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .repartition(col("src")),
      checkpointDir)
    val deg = TextDedup.materialize(
      e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d")),
      checkpointDir)
    val n = deg.agg(count(lit(1)).as("cnt"))
    // driver loop ONLY in convergence mode: it replaces the per-round
    // materialize + probe chain. The fixed-round mode plans ONE lazy
    // unrolled superstep chain with no per-round jobs at all — measured
    // FASTER than the driver loop's per-round collect round-trips
    // (q134: 2.4 s lazy vs 2.9 s driver-looped), so it stays lazy and
    // pays no gate job. In convergence mode ONE bounded collect of the
    // node-sized degree frame answers the gate and seeds the loop
    // ([[ScaleGate.collectUnder]]).
    val driverDeg =
      if (checkConvergence && isLongType(deg, "node"))
        ScaleGate.collectUnder(deg, driverLoopMaxNodes(deg)).filter(_.nonEmpty)
      else None
    driverDeg.foreach { degCollected =>
      // Driver-loop fixpoint (r18, the [[coreness]] pattern): the rank
      // vector is node-sized, so each superstep is ONE job — scan the
      // pinned REVERSE adjacency, per-row damped sum of the mapped
      // in-neighbor contributions (`r div d`, the exact integer
      // arithmetic of the join step), collect the node-sized result.
      // Replaces the per-step join + dst agg + materialize + probe
      // chain; convergence = map equality.
      val radj = TextDedup.materialize(
        e.join(deg.select(col("node").as("dst")), Seq("dst"), "left_semi")
          .groupBy(col("dst")).agg(collect_list(col("src")).as("ins")),
        checkpointDir)
      val sess = edges.sparkSession
      val degRows = degCollected.map(r => (r.getLong(0), r.getLong(1)))
      val nNodes = degRows.length.toLong
      val dMap = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      degRows.foreach { case (node, d) => dMap.put(node, d) }
      val bcD = sess.sparkContext.broadcast(dMap)
      val r0 = 1000000000000L / nNodes
      val restart = 150000000000L / nNodes
      var cur = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      degRows.foreach { case (node, _) => cur.put(node, r0) }
      var iter = 0
      var converged = false
      while (iter < maxIterations && !converged) {
        val bcR = sess.sparkContext.broadcast(cur)
        val step = udf((ins: Seq[Long]) => {
          val rm = bcR.value
          val dm = bcD.value
          var acc = 0L
          var i = 0
          while (i < ins.length) {
            val u = ins(i)
            acc += rm.get(u).longValue / dm.get(u).longValue
            i += 1
          }
          restart + (85L * acc) / 100L
        })
        val rows = radj.select(col("dst"), step(col("ins"))).collect()
        bcR.unpersist(false)
        val next = new java.util.HashMap[java.lang.Long, java.lang.Long]()
        degRows.foreach { case (node, _) => next.put(node, restart) }
        rows.foreach(r => next.put(r.getLong(0), r.getLong(1)))
        converged = next == cur
        cur = next
        iter += 1
      }
      bcD.unpersist(false)
      import sess.implicits._
      return degRows.toSeq
        .map { case (node, d) => (node, d, cur.get(node).longValue) }
        .toDF("node", "d", "r")
    }
    // ranks carries the node's degree so each superstep is exactly one
    // join (edges ⋈ ranks) + one aggregation
    var ranks = deg.crossJoin(broadcast(n))
      .select(col("node"), col("d"), expr("1000000000000 div cnt").as("r"))
    var iter = 0
    var converged = false
    while (iter < maxIterations && !converged) {
      val acc = e
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), expr("r div d").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("acc"))
      val step = deg.crossJoin(broadcast(n))
        .join(acc, col("node") === col("dst"), "left")
        .select(col("node"), col("d"),
          expr("150000000000 div cnt + (85 * coalesce(acc, 0L)) div 100")
            .as("r"))
      if (checkConvergence) {
        // the convergence probe executes the step anyway — pin it so
        // the probe and the next superstep share one materialization
        val next = TextDedup.materialize(step, checkpointDir)
        converged = next.alias("a")
          .join(ranks.alias("b"), expr("a.node = b.node AND a.r <> b.r"))
          .isEmpty
        ranks = next
      } else ranks = step // bounded fixed-round unroll: lazy like q134's
      iter += 1
    }
    ranks
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
    * the loop only through the pinned base/restart frame.
    *
    * @param seeds one column (`seedCol`) of seed node ids
    * @return (node, d, r): out-degree and proximity rank (ppt)
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      seedCol: String = "node",
      maxIterations: Int = 20, checkConvergence: Boolean = true,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxIterations >= 1, s"maxIterations must be >= 1, got $maxIterations")
    val e = TextDedup.materialize(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .repartition(col("src")),
      checkpointDir)
    val seedSet = seeds.select(col(seedCol).as("node")).distinct()
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    val nS = seedSet.agg(count(lit(1)).as("ns"))
    // base carries degree AND per-node restart mass so each superstep
    // is exactly one join (edges ⋈ ranks) + one aggregation
    val base = TextDedup.materialize(
      deg.join(seedSet.withColumn("__seed", lit(1)), Seq("node"), "full_outer")
        .crossJoin(broadcast(nS))
        .select(col("node"), coalesce(col("d"), lit(0L)).as("d"),
          when(col("__seed").isNotNull, expr("150000000000 div ns"))
            .otherwise(lit(0L)).as("rst"),
          when(col("__seed").isNotNull, expr("1000000000000 div ns"))
            .otherwise(lit(0L)).as("r0")),
      checkpointDir)
    val nUniverse = base.count()
    // convergence mode only — see [[pageRank]]'s r18 note: the lazy
    // fixed-round unroll has no per-round jobs to replace
    if (checkConvergence && isLongType(base, "node") && nUniverse > 0 &&
        nUniverse <= driverLoopMaxNodes(base)) {
      // Driver-loop fixpoint — identical shape to [[pageRank]]'s r18
      // branch, with the restart mass per node read from the pinned
      // base frame instead of the uniform constant. Every src in `e`
      // has d >= 1 by construction, so the distributed step's
      // `filter(d > 0)` on the forwarding side is implicit here.
      val radj = TextDedup.materialize(
        e.join(base.select(col("node").as("dst")), Seq("dst"), "left_semi")
          .groupBy(col("dst")).agg(collect_list(col("src")).as("ins")),
        checkpointDir)
      val sess = edges.sparkSession
      val baseRows = base.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val dMap = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      val rstMap = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      baseRows.foreach { case (node, d, rst, _) =>
        dMap.put(node, d); rstMap.put(node, rst)
      }
      val bcD = sess.sparkContext.broadcast(dMap)
      var cur = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      baseRows.foreach { case (node, _, _, r0) => cur.put(node, r0) }
      var iter = 0
      var converged = false
      while (iter < maxIterations && !converged) {
        val bcR = sess.sparkContext.broadcast(cur)
        val step = udf((ins: Seq[Long]) => {
          val rm = bcR.value
          val dm = bcD.value
          var acc = 0L
          var i = 0
          while (i < ins.length) {
            val u = ins(i)
            acc += rm.get(u).longValue / dm.get(u).longValue
            i += 1
          }
          (85L * acc) / 100L
        })
        val rows = radj.select(col("dst"), step(col("ins"))).collect()
        bcR.unpersist(false)
        val next = new java.util.HashMap[java.lang.Long, java.lang.Long]()
        baseRows.foreach { case (node, _, rst, _) => next.put(node, rst) }
        rows.foreach { r =>
          next.put(r.getLong(0), rstMap.get(r.getLong(0)) + r.getLong(1))
        }
        if (checkConvergence) converged = next == cur
        cur = next
        iter += 1
      }
      bcD.unpersist(false)
      import sess.implicits._
      return baseRows.toSeq
        .map { case (node, d, _, _) => (node, d, cur.get(node).longValue) }
        .toDF("node", "d", "r")
    }
    var ranks = base.select(col("node"), col("d"), col("r0").as("r"))
    var iter = 0
    var converged = false
    while (iter < maxIterations && !converged) {
      val acc = e
        .join(ranks.filter(col("d") > 0).withColumnRenamed("node", "src"), "src")
        .select(col("dst"), expr("r div d").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("acc"))
      val step = base
        .join(acc, col("node") === col("dst"), "left")
        .select(col("node"), col("d"),
          (col("rst") + expr("(85 * coalesce(acc, 0L)) div 100")).as("r"))
      if (checkConvergence) {
        val next = TextDedup.materialize(step, checkpointDir)
        converged = next.alias("a")
          .join(ranks.alias("b"), expr("a.node = b.node AND a.r <> b.r"))
          .isEmpty
        ranks = next
      } else ranks = step
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
    * SHRINKING edge set; state is pinned per round (localCheckpoint, or
    * reliable `checkpoint()` via `checkpointDir` for multi-hour runs) so
    * plans don't grow with rounds. Convergence is a filter on the
    * materialized degree frame — no extra join. Rounds needed equal the
    * peel depth of the graph (typically small); a graph that somehow
    * exceeds `maxRounds` raises rather than returning a half-peeled
    * subgraph.
    *
    * @return surviving nodes with their core degrees: (node, degree),
    *         every degree ≥ k; empty when the k-core is empty
    */
  def kCore(edges: DataFrame, k: Int,
      srcCol: String = "u", dstCol: String = "v",
      assumeCanonical: Boolean = false, maxRounds: Int = 100,
      checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val canon =
      if (assumeCanonical) edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      else canonicalEdges(edges, srcCol, dstCol)
    var e = TextDedup.materialize(canon, checkpointDir)
    val deg0 = TextDedup.materialize(degrees(e), checkpointDir)
    val nAll = deg0.count()
    if (isLongType(deg0, "node") && nAll <= driverLoopMaxNodes(deg0)) {
      // Driver-loop peel (r18, the [[labelPropagation]] pattern): the
      // loop state that matters is the NODE keep-set, which is
      // node-sized — so instead of materializing the shrinking edge
      // set + its degree frame every round, pin the FULL adjacency
      // once and run each round as ONE job: per-row count of the
      // node's neighbors still in the broadcast keep-set (== its
      // degree in the keep-induced subgraph), collect node-sized
      // degrees, shrink the set driver-side. Fixpoint and the
      // maxRounds refusal are per-round exactly the distributed
      // loop's; the returned frame is the same (node, degree-within-
      // fixpoint-subgraph) rows.
      val adj = TextDedup.materialize(
        e.select(col("u").as("node"), col("v").as("nb"))
          .union(e.select(col("v").as("node"), col("u").as("nb")))
          .groupBy(col("node")).agg(collect_list(col("nb")).as("nbs")),
        checkpointDir)
      val sess = edges.sparkSession
      var keep = new java.util.HashSet[java.lang.Long]()
      deg0.collect().foreach(r => keep.add(r.getLong(0)))
      var round = 0
      while (round < maxRounds) {
        val bc = sess.sparkContext.broadcast(keep)
        val degIn = udf((node: Long, nbs: Seq[Long]) => {
          val ks = bc.value
          if (!ks.contains(node)) -1L
          else {
            var c = 0L
            var i = 0
            while (i < nbs.length) {
              if (ks.contains(nbs(i))) c += 1
              i += 1
            }
            c
          }
        })
        val rows = adj.select(col("node"), degIn(col("node"), col("nbs")))
          .collect().filter(_.getLong(1) >= 0)
        bc.unpersist(false)
        round += 1
        if (rows.forall(_.getLong(1) >= k)) {
          import sess.implicits._
          return rows.toSeq.map(r => (r.getLong(0), r.getLong(1)))
            .toDF("node", "degree")
        }
        val next = new java.util.HashSet[java.lang.Long]()
        rows.foreach(r => if (r.getLong(1) >= k) next.add(r.getLong(0)))
        keep = next
      }
      throw new IllegalStateException(
        s"kCore did not reach fixpoint in $maxRounds rounds " +
          "(peel depth exceeds maxRounds); raise maxRounds")
    }
    var round = 0
    while (round < maxRounds) {
      val deg =
        if (round == 0) deg0 // already materialized for the gate above
        else TextDedup.materialize(degrees(e), checkpointDir)
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
      e = TextDedup.materialize(
        e.join(maybeB(keep.select(col("node").as("u"))), Seq("u"), "left_semi")
          .join(maybeB(keep.select(col("node").as("v"))), Seq("v"), "left_semi")
          .select(col("u"), col("v")),
        checkpointDir)
      round += 1
    }
    // A half-peeled subgraph would silently overstate the core — refuse.
    throw new IllegalStateException(
      s"kCore did not reach fixpoint in $maxRounds rounds " +
        "(peel depth exceeds maxRounds); raise maxRounds")
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
      assumeCanonical: Boolean = false, maxRounds: Int = 200,
      checkpointDir: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r19: the nb-repartitioned neighbor pin moves INTO the distributed
    // branch — the driver-loop regime never joins on nb, so the
    // repartition exchange + pin were pure waste there. canon is pinned
    // when this operator built it (assumeCanonical callers pass a
    // materialized set — the [[triangleCount]] reuse contract), so each
    // nbrRaw execution is two cheap block reads.
    val canon =
      if (assumeCanonical) edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      else TextDedup.materialize(canonicalEdges(edges, srcCol, dstCol),
        checkpointDir)
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
    driverH.foreach { hRows =>
      // Driver-loop fixpoint (r18): the h-vector is node-sized, so the
      // whole iteration state fits a broadcast map. Each H-application
      // becomes ONE job — scan the pinned adjacency, compute each
      // node's h-index from its neighbors' mapped values in a per-row
      // pass, collect the node-sized result — replacing the per-round
      // join + window-rank + agg + materialize + sum-probe job chain
      // (profiled at sf0.1/q179: 87 jobs, wall dominated by scheduling,
      // task time a fraction). Arithmetic is EXACTLY hStep's: h = max
      // rank r (neighbors sorted desc) with value_r >= r; convergence
      // = map equality (≡ the monotone sum compare); maxRounds refusal
      // contract preserved per-application.
      val adj = TextDedup.materialize(
        nbrRaw.groupBy(col("node")).agg(collect_list(col("nb")).as("nbs")),
        checkpointDir)
      val sess = edges.sparkSession
      var cur = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      hRows.foreach(r => cur.put(r.getLong(0), r.getLong(1)))
      var round = 0
      while (round < maxRounds) {
        val bc = sess.sparkContext.broadcast(cur)
        val step = udf((nbs: Seq[Long]) => {
          val m = bc.value
          val arr = new Array[Long](nbs.length)
          var i = 0
          while (i < arr.length) { arr(i) = m.get(nbs(i)).longValue; i += 1 }
          java.util.Arrays.sort(arr)
          val n = arr.length
          var hv = 0L
          var r = 1
          while (r <= n && arr(n - r) >= r) { hv = r; r += 1 }
          hv
        })
        val rows = adj.select(col("node"), step(col("nbs"))).collect()
        bc.unpersist(false)
        val next = new java.util.HashMap[java.lang.Long, java.lang.Long](
          math.max(16, rows.length * 2))
        rows.foreach(r => next.put(r.getLong(0), r.getLong(1)))
        round += 1
        val converged = next == cur
        cur = next
        if (converged) {
          import sess.implicits._
          return cur.entrySet().iterator().asScala
            .map(e => (e.getKey.longValue, e.getValue.longValue)).toSeq
            .toDF("node", "coreness")
        }
      }
      throw new IllegalStateException(
        s"coreness did not reach fixpoint in $maxRounds rounds " +
          "(propagation depth exceeds maxRounds); raise maxRounds")
    }
    // distributed regime.
    var h = TextDedup.materialize(h0, checkpointDir)
    // node-sized value frame vs edge-sized nbr: [[valueAttach]] keeps
    // the per-round join from re-sorting the edge-sized side every
    // H-application (the localCheckpoint's unknown stats otherwise
    // force a sort-merge join)
    val nNodes = h.count()
    // Static across rounds — pinned with persist(), NOT a checkpoint:
    // an InMemoryRelation REPORTS its hashpartitioning(nb) to the
    // planner, so every round's value join genuinely reuses this one
    // exchange, where a checkpoint scan comes back as
    // UnknownPartitioning and the edge-sized side re-exchanges every
    // H-application (visible in the r19 forced plan dumps). Lineage
    // truncation is not needed here: nbr is built once and never
    // rewritten (unlike the loop STATE frames, which stay on
    // [[TextDedup.materialize]]).
    val nbr = nbrRaw.repartition(col("nb")).persist()
    def hStep(cur: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("node")).orderBy(col("val").desc)
      nbr
        .join(valueAttach(
          cur.select(col("node").as("nb"), col("h").as("val")), nNodes), "nb")
        .select(col("node"), col("val"))
        .withColumn("r", row_number().over(w))
        .groupBy(col("node"))
        // ties in `val` need no tiebreaker: H depends only on the
        // multiset (sorted desc, h = max prefix rank with val_r >= r);
        // cast keeps the value LONG across rounds (row_number is int,
        // the round-0 degree is long — the schema must not flip)
        .agg(max(when(col("val") >= col("r"), col("r"))).cast("long").as("h"))
    }
    // Convergence is a SUM compare, not a join: the h-index sequence is
    // monotone NON-INCREASING per node (Lü et al. 2016, Thm 1 — h⁰ =
    // degree, each application can only lower a value), so Σh unchanged
    // ⟺ no node changed. DECIMAL(38,0) keeps the sum exact at any node
    // count. TWO H-applications per materialization: the profiled cost
    // of this loop at bench scale is per-round fixed overhead (planning
    // + job scheduling — 219 jobs, ~8.3 s build, task time a fraction
    // of that), so halving the materialization/probe count halves the
    // loop's latency while every H past the fixpoint is the identity —
    // same fixpoint, same returned frame (monotonicity also gives
    // fix(H∘H) = fix(H): no cycles exist on a monotone sequence).
    def sumH(df: DataFrame): java.math.BigDecimal =
      df.agg(graft.ext.Exact.decSum(col("h"))).head().getDecimal(0)
    try {
      var prevSum = sumH(h)
      var round = 0
      while (round < maxRounds) {
        val next = TextDedup.materialize(hStep(hStep(h)), checkpointDir)
        h = next
        round += 2
        val s = sumH(h)
        val converged = s.compareTo(prevSum) == 0
        prevSum = s
        if (converged)
          // h is checkpoint-materialized — independent of the pin
          return h.select(col("node"), col("h").as("coreness"))
      }
      // values are only an UPPER bound until the fixpoint — refuse.
      throw new IllegalStateException(
        s"coreness did not reach fixpoint in $maxRounds rounds " +
          "(propagation depth exceeds maxRounds); raise maxRounds")
    } finally nbr.unpersist(false)
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
    * pinned once; per-round state is pinned (localCheckpoint, or
    * reliable `checkpoint()` via `checkpointDir`). The early-stop probe
    * pins the step it executes, so probe + next round share one
    * materialization (the [[pageRank]] pattern).
    *
    * @return (node, label) — every node that has at least one edge
    */
  def labelPropagation(edges: DataFrame, maxRounds: Int = 10,
      srcCol: String = "u", dstCol: String = "v",
      assumeCanonical: Boolean = false, earlyStop: Boolean = true,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    // r19: the nb-repartitioned neighbor pin moves INTO the distributed
    // branch, exactly as in [[coreness]] — the driver-loop regime never
    // joins on nb (profiled at sf0.1/q165: the repartition + pin were
    // ~0.35 s of pure waste per run).
    val canon =
      if (assumeCanonical) edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      else TextDedup.materialize(canonicalEdges(edges, srcCol, dstCol),
        checkpointDir)
    val nbrRaw = canon.select(col("u").as("node"), col("v").as("nb"))
      .union(canon.select(col("v").as("node"), col("u").as("nb")))
    var labels = TextDedup.materialize(
      nbrRaw.select(col("node")).distinct().withColumn("label", col("node")),
      checkpointDir)
    // The label frame is NODE-sized but rides a localCheckpoint, whose
    // stats are unknown — the planner sort-merge-joined it against the
    // pinned nbr frame, paying a full sort of the edge-sized side EVERY
    // round (measured at sf0.1/q165: 6.7 s task time per round, the
    // whole query's cost). One count on the already-materialized frame
    // gates the join strategy (guide §3.1, the kCore pattern): under
    // the broadcast bound each round is a broadcast hash probe fused
    // into the nbr scan — no sort, no edge-side exchange. Beyond the
    // bound the SMJ plan below is unchanged.
    val nNodes = labels.count()
    if (isLongType(labels, "node") && nNodes <= driverLoopMaxNodes(labels)) {
      // Driver-loop fixpoint (r18, the [[coreness]] pattern): the
      // labeling is node-sized, so each synchronous round is ONE job —
      // scan the pinned adjacency, per-row argmax of the neighbors'
      // mapped labels ((count DESC, label ASC), exactly lpaStep's
      // two-level agg), collect the node-sized result. Replaces the
      // per-round broadcast join + two aggs + materialize (+ earlyStop
      // probe join) job chain; round accounting is the EXACT
      // single-step semantics the oracle unrolls, and earlyStop's
      // round-changes-nothing test is a free map equality.
      val adj = TextDedup.materialize(
        nbrRaw.groupBy(col("node")).agg(collect_list(col("nb")).as("nbs")),
        checkpointDir)
      val sess = edges.sparkSession
      var cur = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      labels.collect().foreach(r => cur.put(r.getLong(0), r.getLong(1)))
      var round = 0
      var converged = false
      while (round < maxRounds && !converged) {
        val bc = sess.sparkContext.broadcast(cur)
        val step = udf((nbs: Seq[Long]) => {
          val m = bc.value
          val arr = new Array[Long](nbs.length)
          var i = 0
          while (i < arr.length) { arr(i) = m.get(nbs(i)).longValue; i += 1 }
          java.util.Arrays.sort(arr)
          // longest run wins; ties keep the SMALLEST label — the
          // ascending sort visits labels smallest-first and only a
          // strictly greater count replaces the champion
          var bestL = arr(0)
          var bestC = 0
          var i2 = 0
          while (i2 < arr.length) {
            var j = i2
            while (j < arr.length && arr(j) == arr(i2)) j += 1
            if (j - i2 > bestC) { bestC = j - i2; bestL = arr(i2) }
            i2 = j
          }
          bestL
        })
        val rows = adj.select(col("node"), step(col("nbs"))).collect()
        bc.unpersist(false)
        val next = new java.util.HashMap[java.lang.Long, java.lang.Long](
          math.max(16, rows.length * 2))
        rows.foreach(r => next.put(r.getLong(0), r.getLong(1)))
        if (earlyStop) converged = next == cur
        cur = next
        round += 1
      }
      import sess.implicits._
      return cur.entrySet().iterator().asScala
        .map(e => (e.getKey.longValue, e.getValue.longValue)).toSeq
        .toDF("node", "label")
    }
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
      .join(valueAttach(cur.withColumnRenamed("node", "nb"), nNodes), "nb")
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
        labels = TextDedup.materialize(lpaStep(labels), checkpointDir)
        round = 1
      }
      while (round < maxRounds && !converged) {
        val next = TextDedup.materialize(lpaStep(lpaStep(labels)),
          checkpointDir)
        if (earlyStop)
          converged = next.alias("a")
            .join(valueAttach(labels.alias("b"), nNodes),
              expr("a.node = b.node AND a.label <> b.label"))
            .isEmpty
        labels = next
        round += 2
      }
      labels // checkpoint-materialized — independent of the pin
    } finally nbr.unpersist(false)
  }
}
