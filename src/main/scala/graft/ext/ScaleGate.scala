package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The one driver-loop rule: ship a frame to the driver only when it
  * provably fits under a row bound, and learn that from the ship itself.
  *
  * `collectUnder(df, bound)` collects `df.limit(bound + 1)`. At most
  * `bound` rows back means the whole frame came back, so the caller
  * runs its driver loop on them with no count job first. More than
  * `bound` rows means the frame is over the bound; the caller goes
  * distributed, having paid at most `bound + 1` rows shipped once
  * before a many-job distributed loop. Callers pass a column-pruned
  * frame so the ship carries only what the driver loop reads.
  *
  * Users: [[VectorIndex]] (Lloyd training rows), [[Spectral]] (power
  * iteration vectors), [[Retrieval.mmrSelect]] (candidates and
  * symmetrized sims), and every graph driver loop on node-sized
  * frames: [[Graph]]'s kCore, coreness, labelPropagation and
  * convergent pageRank / personalizedPageRank, and
  * [[TextDedup.connectedComponents]]. It is the only driver-loop gate
  * in those operators: none runs a `count()` before deciding.
  *
  * The rounds behind that gate are written here too, once each:
  *  - [[driverRounds]], the driver-loop round: broadcast a node→value
  *    map, one job over a pinned `(node, nbs)` adjacency, collect. Its
  *    users are the six graph fixpoints above; each passes only its
  *    per-node kernel (kCore's degree within the keep set, coreness's
  *    h-index, LPA's (count desc, label asc) argmax, PageRank's damped
  *    integer sum, CC's min label).
  *  - [[monotoneRounds]], the distributed loop of a monotone fixpoint,
  *    two steps per materialization: distributed coreness and
  *    [[TextDedup.connectedComponents]].
  *  - [[materialize]], how the loop operators in this package pin
  *    their per-round state. */
object ScaleGate {

  /** Pin a loop-state frame and truncate its lineage, so plans do not
    * grow with rounds. When the context has a checkpoint dir (set once
    * per deployment: `spark.checkpoint.dir`, read at context start, or
    * `SparkContext.setCheckpointDir`) this is a reliable `checkpoint()`,
    * which survives executor loss — the durability a multi-hour 100 TB
    * iterative job needs. Without one it is `localCheckpoint()`
    * (executor block storage, faster; fine for short jobs and local
    * mode). The operators never set the dir themselves: MLlib's
    * `PeriodicCheckpointer` and ALS follow the same convention. */
  private[ext] def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** The rows of `df` when there are at most `bound` of them, else
    * None; a bound ≤ 0 disables the driver path. `bound + 1` is
    * clamped to `Int.MaxValue`, the largest limit Spark takes (and the
    * largest array the driver can hold). */
  def collectUnder(df: DataFrame, bound: Long): Option[Array[Row]] =
    if (bound <= 0) None
    else {
      val got = df.limit(math.min(bound, Int.MaxValue - 1L).toInt + 1)
        .collect()
      if (got.length > bound) None else Some(got)
    }

  /** A driver loop's state: node id → value. */
  type NodeMap = java.util.HashMap[java.lang.Long, java.lang.Long]

  /** The map `row(0) → value(row)` over collected gate rows. */
  def nodeMap(rows: Array[Row])(value: Row => Long): NodeMap = {
    val m = new NodeMap(math.max(16, rows.length * 2))
    rows.foreach(r => m.put(r.getLong(0), value(r)))
    m
  }

  /** A node map as a `(node, valueCol)` frame. */
  def nodeFrame(spark: SparkSession, m: NodeMap,
      valueCol: String): DataFrame = {
    import spark.implicits._
    m.asScala.toSeq.map { case (k, v) => (k.longValue, v.longValue) }
      .toDF("node", valueCol)
  }

  /** Driver-loop fixpoint over a pinned `(node: long, nbs: array<long>)`
    * adjacency. Each round broadcasts the current map, runs ONE job,
    * `adj.select(node, kernel(map, node, nbs))`, collects the rows and
    * unpersists the broadcast: no join, no shuffle, no per-round
    * materialization or probe job. The next map is the current one
    * with each collected row's value replacing its node's: a node
    * without an adjacency row keeps its value, and a row whose node is
    * not a key of `init` is dropped, so the key set stays `init`'s.
    * Stops after the first round where `done(current, next)` holds, or
    * after `maxRounds` rounds; returns the last map and whether `done`
    * held. The kernel runs on the executors against the broadcast map;
    * it must read only what it closes over and its arguments. */
  def driverRounds(adj: DataFrame, init: NodeMap, maxRounds: Int,
      done: (NodeMap, NodeMap) => Boolean = _ == _)(
      kernel: (NodeMap, Long, Seq[Long]) => Long): (NodeMap, Boolean) = {
    var cur = init
    var held = false
    var round = 0
    while (!held && round < maxRounds) {
      val bc = adj.sparkSession.sparkContext.broadcast(cur)
      val step = udf((node: Long, nbs: Seq[Long]) => kernel(bc.value, node, nbs))
      val rows = try adj.select(col("node"), step(col("node"), col("nbs")))
        .collect() finally bc.unpersist(false)
      val next = new NodeMap(cur)
      rows.foreach { r =>
        if (next.containsKey(r.getLong(0))) next.put(r.getLong(0), r.getLong(1))
      }
      held = done(cur, next)
      cur = next
      round += 1
    }
    (cur, held)
  }

  /** Distributed loop of a MONOTONE fixpoint — every `step` can only
    * lower a node's `valueCol` — so Σ`valueCol` unchanged ⟺ no node
    * changed, and the test is one exact DECIMAL(38,0) sum
    * ([[Exact.decSum]]) instead of a join. TWO steps per
    * materialization: the profiled cost of these loops at bench scale
    * is per-round fixed overhead (planning + job scheduling — q179's
    * distributed coreness: 219 jobs, ~8.3 s build, task time a
    * fraction of that), so halving the materialization/probe count
    * halves the loop's latency. Steps past the fixpoint are identities
    * and a monotone sequence has no cycles, so fix(step∘step) =
    * fix(step): the same frame comes back. Throws
    * IllegalStateException(`refusal`) once `maxRounds` steps have run
    * unconverged: the values are only a bound until the fixpoint. */
  def monotoneRounds(init: DataFrame, valueCol: String, maxRounds: Int,
      refusal: String)(
      step: DataFrame => DataFrame): DataFrame = {
    def total(df: DataFrame): java.math.BigDecimal =
      df.agg(Exact.decSum(col(valueCol))).head().getDecimal(0)
    var cur = init
    var prev = total(cur)
    var round = 0
    while (round < maxRounds) {
      cur = materialize(step(step(cur)))
      round += 2
      val s = total(cur)
      if (s.compareTo(prev) == 0) return cur
      prev = s
    }
    throw new IllegalStateException(refusal)
  }
}
