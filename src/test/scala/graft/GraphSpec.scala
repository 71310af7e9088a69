package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ext.Graph

/** ext/Graph operator contracts, proven against in-memory brute force
  * on small random graphs (the PropertySpec fixed-seed technique):
  *
  *  - triangleCount == naive triple enumeration, including on graphs
  *    whose node ids exceed 1e6 (the arithmetic `d*1e6+id` orientation
  *    key this operator replaced silently conflated such nodes);
  *  - kCore FIXPOINT == brute-force iterative peel (not a fixed-depth
  *    unroll — cascades must fully propagate);
  *  - every loop operator produces identical results via local and
  *    reliable checkpoints (the context's checkpoint dir set).
  */
class GraphSpec extends SparkSpec {

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(977L + i)))

  /** Random edge list over `nodes` node ids (ids optionally offset into
    * the >1e6 range), ~density fraction of all pairs. */
  private def edgeGen(nodes: Int, offset: Long): Gen[Seq[(Long, Long)]] =
    Gen.listOfN(nodes * 2, for {
      a <- Gen.chooseNum(0, nodes - 1)
      b <- Gen.chooseNum(0, nodes - 1)
    } yield (offset + a, offset + b))

  private def canonical(es: Seq[(Long, Long)]): Set[(Long, Long)] =
    es.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }
      .toSet

  private def bruteTriangles(es: Set[(Long, Long)]): Long = {
    val nodes = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val set = es
    val triples = for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      k <- (j + 1) until nodes.length
      a = nodes(i); b = nodes(j); c = nodes(k)
      if set((a, b)) && set((b, c)) && set((a, c))
    } yield 1
    triples.size.toLong
  }

  private def brutePeel(es: Set[(Long, Long)], k: Int): Map[Long, Long] = {
    var edges = es
    var changed = true
    while (changed) {
      val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
      val drop = deg.filter(_._2 < k).keySet
      changed = drop.nonEmpty
      edges = edges.filter(e => !drop(e._1) && !drop(e._2))
    }
    edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
  }

  private def toDf(es: Seq[(Long, Long)]) = {
    import spark.implicits._
    es.toDF("u", "v")
  }

  test("triangleCount == brute force on random graphs (small, >1e6, negative ids)") {
    // offset 0 / 1e6 take the narrow arithmetic-key path; negative ids
    // force the struct(degree, id) fallback — both layouts must agree
    // with brute force
    for (offset <- Seq(0L, 1000000L, -1000L); g <- samples(edgeGen(12, offset), 8)) {
      val expected = bruteTriangles(canonical(g))
      val got = Graph.triangleCount(toDf(g)).head().getLong(0)
      assert(got === expected, s"offset=$offset edges=${canonical(g)}")
    }
  }

  test("triangleCount: known fixtures (K4 has 4, C5 has 0, K4 plus chord)") {
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    assert(Graph.triangleCount(toDf(k4)).head().getLong(0) === 4L)
    val c5 = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 0L))
    assert(Graph.triangleCount(toDf(c5)).head().getLong(0) === 0L)
    // duplicate + reversed + self-loop edges must not change the count
    val messy = k4 ++ k4.map(e => (e._2, e._1)) ++ Seq((2L, 2L))
    assert(Graph.triangleCount(toDf(messy)).head().getLong(0) === 4L)
  }

  test("kCore fixpoint == brute-force peel on random graphs") {
    for (g <- samples(edgeGen(14, 0L), 10); k <- Seq(2, 3)) {
      val expected = brutePeel(canonical(g), k)
      val got = Graph.kCore(toDf(g), k).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"k=$k edges=${canonical(g)}")
    }
  }

  test("kCore cascades past any fixed depth (long chain into a clique)") {
    // K4 with a 12-node path hanging off it: every path node has degree
    // 2, but peeling at k=2 removes them ONE PER ROUND from the free end
    // — 12 cascade rounds, far beyond a 3-round unroll.
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val path = (0 until 12).map(i => (if (i == 0) 3L else 100L + i - 1, 100L + i))
    val got = Graph.kCore(toDf(k4 ++ path), 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("kCore: empty core and k larger than any degree") {
    val c5 = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 0L))
    assert(Graph.kCore(toDf(c5), 3).isEmpty)
    assert(Graph.kCore(toDf(Seq.empty[(Long, Long)]), 2).isEmpty)
  }

  test("kCore: maxRounds refusal round, driver loop and forced distributed") {
    // K4 plus the 12-node path at k = 2: 12 peel rounds, then the round
    // that finds nothing below k — 13 rounds return, 12 refuse. A star
    // at k = 2 drops its leaves, then its center has no edge left: the
    // distributed loop's edge set is empty on round 2, and so is the
    // driver loop's keep set.
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val path = (0 until 12).map(i => (if (i == 0) 3L else 100L + i - 1, 100L + i))
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    def core(es: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
      Graph.kCore(toDf(es), 2, maxRounds = rounds).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (bound <- Seq(None, Some(0L))) {
      bound.foreach(b => spark.conf.set("graft.broadcastMaxEdges", b.toString))
      try {
        assert(core(k4 ++ path, 13) === (0L to 3L).map(_ -> 3L).toMap,
          s"bound $bound")
        intercept[IllegalStateException](core(k4 ++ path, 12))
        assert(core(star, 2) === Map.empty[Long, Long], s"bound $bound")
        intercept[IllegalStateException](core(star, 1))
      } finally spark.conf.unset("graft.broadcastMaxEdges")
    }
  }

  /** Definitional coreness: max k such that the node survives the
    * brute-force k-peel. */
  private def bruteCoreness(es: Set[(Long, Long)]): Map[Long, Long] =
    es.flatMap(e => Seq(e._1, e._2)).map { n =>
      var k = 1
      while (brutePeel(es, k + 1).contains(n)) k += 1
      n -> k.toLong
    }.toMap

  test("coreness == brute-force peel decomposition on random graphs") {
    for (g <- samples(edgeGen(14, 0L), 8)) {
      val canon = canonical(g)
      if (canon.nonEmpty) {
        val expected = bruteCoreness(canon)
        val got = Graph.coreness(toDf(g)).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === expected, s"edges=$canon")
      }
    }
  }

  test("coreness cascades past any fixed depth (pendant path into K4)") {
    // the h-index wave relaxes ONE HOP per round down the path (the
    // same lower bound as the peel) — 12 path nodes must all settle at
    // coreness 1, the K4 at 3, far beyond a shallow unroll
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val path = (0 until 12).map(i => (if (i == 0) 3L else 100L + i - 1, 100L + i))
    val got = Graph.coreness(toDf(k4 ++ path)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (0L to 3L).map(_ -> 3L).toMap ++
      (0 until 12).map(i => (100L + i) -> 1L).toMap
    assert(got === expected)
  }

  test("coreness: empty graph and maxRounds refusal") {
    assert(Graph.coreness(toDf(Seq.empty[(Long, Long)])).isEmpty)
    val path = (0 until 10).map(i => (i.toLong, i + 1L))
    intercept[IllegalStateException] {
      Graph.coreness(toDf(path), maxRounds = 2).collect()
    }
  }

  test("pageRank: ring is stationary (early stop == fixed iterations)") {
    import spark.implicits._
    // directed ring: every node out-degree 1, uniform ranks are the
    // exact fixpoint — convergence must trigger on the first superstep
    // and equal the fixed-3-iteration result
    val ring = (0L until 8L).map(i => (i, (i + 1) % 8)).toDF("src", "dst")
    val fast = Graph.pageRank(ring, maxIterations = 20).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val fixed = Graph.pageRank(ring, maxIterations = 3,
        checkConvergence = false).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(fast === fixed)
    assert(fast.values.toSet.size === 1, "ring ranks must be uniform")
  }

  test("pageRank: star center outranks leaves; ranks deterministic") {
    import spark.implicits._
    // undirected star (both directions): center 0, 6 leaves
    val half = (1L to 6L).map(l => (0L, l))
    val star = (half ++ half.map(_.swap)).toDF("src", "dst")
    val ranks = Graph.pageRank(star, maxIterations = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert((1L to 6L).forall(l => ranks(0L) > ranks(l)),
      s"center must outrank leaves: $ranks")
    assert((1L to 6L).map(ranks).toSet.size === 1, "leaves symmetric")
    val again = Graph.pageRank(star, maxIterations = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again === ranks)
  }

  test("checkpointDir path produces identical results to localCheckpoint") {
    import spark.implicits._
    val g = samples(edgeGen(12, 0L), 1).head
    val seeds = Seq(g.head._1).toDF("node")
    def byNode(df: org.apache.spark.sql.DataFrame, c: Int) = df.collect()
      .map(r => (r.getLong(0), r.getLong(c))).sortBy(_._1).toSeq
    val (local, reliable, _) = localAndReliable(Seq(
      "triangleCount" -> Graph.triangleCount(toDf(g)).head().getLong(0),
      "kCore" -> byNode(Graph.kCore(toDf(g), 2), 1),
      "coreness" -> byNode(Graph.coreness(toDf(g)), 1),
      "pageRank" -> byNode(Graph.pageRank(toDf(g), "u", "v",
        maxIterations = 4), 2),
      "personalizedPageRank" -> byNode(Graph.personalizedPageRank(toDf(g),
        seeds, "u", "v", maxIterations = 4), 2),
      "labelPropagation" -> byNode(Graph.labelPropagation(toDf(g),
        maxRounds = 3), 1)))
    local.zip(reliable).foreach { case ((op, l), (_, r)) =>
      assert(l === r, op)
    }
  }

  /** Reference synchronous LPA: every node simultaneously takes the
    * most frequent label among its neighbors' previous labels, ties to
    * the smallest label — exactly the operator's window argmax. */
  private def bruteLpa(es: Set[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val nbrs = (es.toSeq ++ es.toSeq.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labels = nbrs.keys.map(n => n -> n).toMap
    (0 until rounds).foreach { _ =>
      labels = nbrs.map { case (n, nb) =>
        val votes = nb.groupBy(labels).view.mapValues(_.size).toSeq
        n -> votes.minBy { case (l, c) => (-c, l) }._1
      }
    }
    labels
  }

  test("labelPropagation == brute-force synchronous LPA on random graphs") {
    samples(edgeGen(14, 0L), 4).foreach { es =>
      val canon = canonical(es)
      if (canon.nonEmpty) {
        (1 to 3).foreach { rounds =>
          val expected = bruteLpa(canon, rounds)
          val got = Graph
            .labelPropagation(toDf(es.toSeq), maxRounds = rounds,
              earlyStop = false)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
          assert(got === expected, s"rounds=$rounds edges=$canon")
        }
      }
    }
  }

  test("labelPropagation: two triangles with a bridge form two communities") {
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L),
      (3L, 4L))
    val got = Graph.labelPropagation(toDf(g), maxRounds = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // the 1-2-3 triangle keeps label 1; the bridge pulls 3's label into
    // the second triangle (standard sync-LPA behavior on this fixture)
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("labelPropagation: early stop == fixed rounds once converged") {
    val g = samples(edgeGen(10, 0L), 1).head
    val fixedDeep = Graph.labelPropagation(toDf(g), maxRounds = 12,
        earlyStop = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val early = Graph.labelPropagation(toDf(g), maxRounds = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(early === fixedDeep)
  }

  /** A path 0 - 1 - … - (n - 1). */
  private def path(n: Int): Seq[(Long, Long)] =
    (0 until n - 1).map(i => (i.toLong, i + 1L))

  test("graph fixpoints on the driver: the job count does not grow with " +
    "the rounds") {
    // coreness on a path relaxes one hop per round from each end, so the
    // 40-node path runs ~4x the rounds of the 10-node one
    def corenessJobs(n: Int): Int =
      jobStats(Graph.coreness(toDf(path(n))).collect())._1
    assert(corenessJobs(40) === corenessJobs(10))
    val g = toDf(samples(edgeGen(12, 0L), 1).head)
    def lpaJobs(rounds: Int): Int = jobStats(Graph.labelPropagation(g,
      maxRounds = rounds, earlyStop = false).collect())._1
    assert(lpaJobs(10) === lpaJobs(1))
  }

  test("every job of a graph fixpoint is labeled with its operator, on " +
    "the driver path and forced distributed") {
    val g = toDf(samples(edgeGen(12, 0L), 1).head)
    def descriptions(): Seq[String] =
      JobStats.measure(spark)(Graph.coreness(g))._2.jobs.map(_.description)
    val driver = descriptions()
    spark.conf.set("graft.broadcastMaxEdges", "0")
    val distributed = try descriptions()
    finally spark.conf.unset("graft.broadcastMaxEdges")
    for ((what, ds) <- Seq("driver" -> driver, "distributed" -> distributed)) {
      assert(ds.nonEmpty, s"$what: no job recorded")
      assert(ds.forall(_.startsWith("Graph.coreness: ")), s"$what: $ds")
    }
    assert(distributed.size > driver.size)
    // the caller's own description is back in place afterwards
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      Graph.coreness(g)
      assert(sc.getLocalProperty("spark.job.description") === "caller")
    } finally sc.setJobDescription(null)
  }
}
