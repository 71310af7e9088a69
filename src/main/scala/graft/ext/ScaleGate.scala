package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The one driver-loop rule: ship a frame to the driver only when it
  * provably fits under a row bound, and learn that from the ship itself.
  *
  * `collectUnder(df, bound)` collects `df.limit(bound + 1)`. At most
  * `bound` rows back means the whole frame came back, so the caller
  * runs its driver loop on them with no count job first. More than
  * `bound` rows means the frame is over the bound; the caller goes
  * distributed, having paid at most `bound + 1` rows shipped once
  * before a many-job distributed loop. Callers pass a column-pruned
  * frame so the ship carries only what the driver loop reads. Users:
  * [[VectorIndex]] (Lloyd training rows), [[Spectral]] (power
  * iteration vectors) and [[Retrieval.mmrSelect]] (candidates and
  * symmetrized sims).
  *
  * The graph fixpoints ([[Graph]]'s kCore, coreness, labelPropagation,
  * pageRank and personalizedPageRank, and
  * [[TextDedup.connectedComponents]]) gate on their EDGE list, under
  * the one graph bound `graft.broadcastMaxEdges`
  * ([[Graph.broadcastMaxEdges]], the bound triangleCount's broadcasts
  * and the distributed loops' broadcasts already use):
  *  - [[collectLongs]] is `collectUnder` for all-LONG frames: the same
  *    incremental take, but each task packs its rows into one
  *    `long[]`, so the driver holds 8 bytes a value, not a boxed `Row`.
  *    It runs before any pin; a node frame the result must cover (CC's
  *    nodes, PPR's seeds) is collected under the same bound.
  *  - [[DriverGraph]] holds the collected graph as primitive CSR
  *    arrays: sorted node ids, row offsets, neighbour indices.
  *  - [[fixpoint]] runs the rounds as a plain loop over it, with the
  *    operator's per-node kernel (kCore's degree within the keep set,
  *    coreness's h-index, LPA's (count desc, label asc) argmax,
  *    PageRank's damped integer sum, CC's min label). A round starts no
  *    job, so a graph that fits costs its collect jobs and nothing per
  *    round.
  * Over the bound (or with non-LONG ids, or a null among them) the
  * distributed loops run instead; [[monotoneRounds]] is the shared
  * loop of the monotone ones (distributed coreness and CC), and
  * [[materialize]] is how every loop operator in this package pins its
  * per-round state. [[Labels]] names every job those operators start. */
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

  /** The rows of `df`, every column LONG, row-major in one primitive
    * array when there are at most `bound` of them and none holds a
    * null; else None. The [[collectUnder]] contract and the same jobs
    * (Spark's incremental take: `spark.sql.limit.initialNumPartitions`
    * partitions first, then `spark.sql.limit.scaleUpFactor` times the
    * partitions scanned so far, each task reading at most the rows
    * still missing), but a task ships its rows as one `long[]`. A null
    * answers None: the driver loops have no null id, and the
    * distributed loops keep their join semantics for it. The bound is
    * clamped to the largest array the driver can hold. */
  def collectLongs(df: DataFrame, bound: Long): Option[Array[Long]] = {
    val width = df.schema.length
    require(df.schema.forall(_.dataType == LongType),
      s"collectLongs needs LONG columns, got ${df.schema.simpleString}")
    val limit = math.min(bound, (Int.MaxValue - 8L) / width - 1L)
    if (limit <= 0) return None
    val conf = df.sparkSession.conf
    val first = conf.get("spark.sql.limit.initialNumPartitions", "1").toInt
    val scaleUp = conf.get("spark.sql.limit.scaleUpFactor", "4").toInt
    val rdd = df.queryExecution.toRdd
    val nParts = rdd.getNumPartitions
    val chunks = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    var rows = 0L
    var scanned = 0
    while (rows <= limit && scanned < nParts) {
      val n = if (scanned == 0) first else scanned * scaleUp
      val left = limit + 1 - rows
      val got = df.sparkSession.sparkContext.runJob(rdd,
        (it: Iterator[InternalRow]) => {
          val out = new scala.collection.mutable.ArrayBuilder.ofLong
          var taken = 0L
          var clean = true
          while (clean && taken < left && it.hasNext) {
            val r = it.next()
            var c = 0
            while (c < width) {
              if (r.isNullAt(c)) clean = false else out += r.getLong(c)
              c += 1
            }
            taken += 1
          }
          if (clean) Some(out.result()) else None
        }, scanned until math.min(scanned + n, nParts))
      if (got.exists(_.isEmpty)) return None
      got.foreach { a => chunks += a.get; rows += a.get.length / width }
      scanned = math.min(scanned + n, nParts)
    }
    if (rows > limit) None
    else if (chunks.length == 1) Some(chunks.head)
    else Some(Array.concat(chunks.toSeq: _*))
  }

  /** Sorted distinct copy of `xs`. */
  def distinctSorted(xs: Array[Long]): Array[Long] = {
    val s = xs.clone()
    java.util.Arrays.sort(s)
    var n = 0
    var i = 0
    while (i < s.length) {
      if (n == 0 || s(i) != s(n - 1)) { s(n) = s(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(s, n)
  }

  /** A graph on the driver in CSR form: node `i` has id `ids(i)` (sorted
    * ascending, distinct) and neighbours `nbrs(offsets(i))` until
    * `nbrs(offsets(i + 1))`, each an index into `ids`. Neighbour lists
    * keep duplicate edges, as the distributed loops' joins do. */
  final class DriverGraph(val ids: Array[Long], val offsets: Array[Int],
      val nbrs: Array[Int]) {
    def n: Int = ids.length
    def degree(v: Int): Int = offsets(v + 1) - offsets(v)
    def maxDegree: Int = (0 until n).foldLeft(0)((m, v) => math.max(m, degree(v)))
    /** Index of `id`, or a negative number when it is not a node. */
    def indexOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    /** Copies the values of `v`'s neighbours into `buf`; returns how many. */
    def gather(v: Int, values: Array[Long], buf: Array[Long]): Int = {
      var j = offsets(v)
      val end = offsets(v + 1)
      while (j < end) { buf(j - offsets(v)) = values(nbrs(j)); j += 1 }
      end - offsets(v)
    }
  }

  object DriverGraph {
    /** Undirected graph over the endpoints of `pairs` (interleaved
      * `a0, b0, a1, b1, …`): each pair links both ways. */
    def undirected(pairs: Array[Long]): DriverGraph =
      build(distinctSorted(pairs), pairs, both = true)

    /** Undirected graph over `ids` (sorted distinct): a pair naming an id
      * outside `ids` is dropped. */
    def undirected(ids: Array[Long], pairs: Array[Long]): DriverGraph =
      build(ids, pairs, both = true)

    /** In-edge graph over `ids` (sorted distinct): node `dst` lists every
      * `src` of a `(src, dst)` pair; a pair naming an id outside `ids`
      * is dropped. */
    def inEdges(ids: Array[Long], pairs: Array[Long]): DriverGraph =
      build(ids, pairs, both = false)

    private def build(ids: Array[Long], pairs: Array[Long],
        both: Boolean): DriverGraph = {
      val m = pairs.length / 2
      // resolve every endpoint once; -1 marks a dropped pair
      val src = new Array[Int](m)
      val dst = new Array[Int](m)
      val offsets = new Array[Int](ids.length + 1)
      var j = 0
      while (j < m) {
        val s = java.util.Arrays.binarySearch(ids, pairs(2 * j))
        val d = java.util.Arrays.binarySearch(ids, pairs(2 * j + 1))
        if (s >= 0 && d >= 0) {
          src(j) = s; dst(j) = d
          offsets(d + 1) += 1
          if (both) offsets(s + 1) += 1
        } else src(j) = -1
        j += 1
      }
      var v = 0
      while (v < ids.length) { offsets(v + 1) += offsets(v); v += 1 }
      val fill = java.util.Arrays.copyOf(offsets, ids.length)
      val nbrs = new Array[Int](offsets(ids.length))
      j = 0
      while (j < m) {
        if (src(j) >= 0) {
          nbrs(fill(dst(j))) = src(j); fill(dst(j)) += 1
          if (both) { nbrs(fill(src(j))) = dst(j); fill(src(j)) += 1 }
        }
        j += 1
      }
      new DriverGraph(ids, offsets, nbrs)
    }
  }

  /** A per-node round kernel: node `v`'s next value from the current
    * values `cur` (indexed like [[DriverGraph.ids]]). */
  trait Kernel { def apply(cur: Array[Long], v: Int): Long }

  /** Driver-loop fixpoint over `g` from the values `init` (consumed: the
    * loop reuses it as a buffer). Every round computes each node's next
    * value with `kernel` from the current ones, on the driver, starting
    * no job. Stops after the first round where `done(current, next)`
    * holds, or after `maxRounds` rounds; returns the last values and
    * whether `done` held. */
  def fixpoint(g: DriverGraph, init: Array[Long], maxRounds: Int,
      done: (Array[Long], Array[Long]) => Boolean =
        java.util.Arrays.equals(_: Array[Long], _: Array[Long]))(
      kernel: Kernel): (Array[Long], Boolean) = {
    var cur = init
    var next = new Array[Long](init.length)
    var held = false
    var round = 0
    while (!held && round < maxRounds) {
      var v = 0
      while (v < g.n) { next(v) = kernel(cur, v); v += 1 }
      held = done(cur, next)
      val t = cur; cur = next; next = t
      round += 1
    }
    (cur, held)
  }

  /** The driver values as a `(node, valueCol)` frame, over the nodes
    * whose value passes `keep`. */
  def nodeFrame(spark: SparkSession, ids: Array[Long], values: Array[Long],
      valueCol: String, keep: Long => Boolean = _ => true): DataFrame = {
    import spark.implicits._
    ids.indices.filter(i => keep(values(i))).map(i => (ids(i), values(i)))
      .toDF("node", valueCol)
  }

  /** Names the jobs of one operator: `job(step)(body)` runs `body` with
    * every job it starts described `"<op>: <step>"`
    * ([[graft.JobStats.labeled]]). */
  final class Labels(spark: SparkSession, op: String) {
    def apply[T](step: String)(body: => T): T =
      graft.JobStats.labeled(spark, s"$op: $step")(body)
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
