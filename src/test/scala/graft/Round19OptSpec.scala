package graft

import org.apache.spark.sql.functions._

/** Round-19 optimization pins: every change this round makes to an
  * operator's internals keeps its output byte-identical, proven here
  * against the formulation it replaced (the Round18OptSpec doctrine). */
class Round19OptSpec extends SparkSpec {

  private def withConf[T](key: String, value: Long)(f: => T): T = {
    spark.conf.set(key, value.toString)
    try f finally spark.conf.unset(key)
  }

  test("coOccurrenceEdges == brute-force pair join, ids below and " +
    "past 2^31") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val rows = (1 to 400).flatMap { g =>
      val items = Seq.fill(1 + rnd.nextInt(8))(rnd.nextInt(50).toLong)
      items.map(i => (g.toLong, i))
    }
    val small = rows.toDF("grp", "item")
    // the SAME graph with every id offset past 2^31
    val big = rows.map { case (g, i) => (g, i + (1L << 31)) }
      .toDF("grp", "item")
    val lo = graft.ext.Graph.coOccurrenceEdges(small, "grp", "item")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hi = graft.ext.Graph.coOccurrenceEdges(big, "grp", "item")
      .collect()
      .map(r => (r.getLong(0) - (1L << 31), r.getLong(1) - (1L << 31)))
      .toSet
    val brute = rows.groupBy(_._1).values.flatMap { grp =>
      val its = grp.map(_._2).distinct.sorted
      for (i <- its.indices; j <- i + 1 until its.length)
        yield (its(i), its(j))
    }.toSet
    assert(lo === brute, "pair set (ids < 2^31) diverged from brute")
    assert(hi === brute, "pair set (ids > 2^31) diverged from brute")
  }

  test("triangleCount: shuffled adjacency close (broadcastMaxEdges=0) == " +
    "broadcast close == wedge plan (struct keys), random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (0 until 3).foreach { trial =>
      val n = 30 + trial * 20
      val edges = (for (_ <- 1 to 6 * n) yield
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).distinct
      val df = edges.toDF("u", "v")
      def run(): Long =
        graft.ext.Graph.triangleCount(df).head().getLong(0)
      val bcast = run()
      spark.conf.set("graft.broadcastMaxEdges", "0")
      val shuffled = try run()
      finally spark.conf.unset("graft.broadcastMaxEdges")
      // struct keys keep the wedge plan: offset ids past the narrow-key
      // overflow guard is impractical here, so force the wedge plan by
      // negative ids (minId < 0 fails fitsLong)
      val neg = edges.map { case (a, b) => (a - n, b - n) }.toDF("u", "v")
      val wedge = graft.ext.Graph.triangleCount(neg).head().getLong(0)
      assert(bcast === shuffled, s"trial $trial: shuffled close diverged")
      assert(bcast === wedge, s"trial $trial: wedge plan diverged")
    }
  }

  /** Graph gate boundaries: `run` at broadcastMaxEdges = `n` (the most
    * rows one of the gate's collects takes: driver loop) and `n - 1`
    * (distributed loop), and at bounds past Int.MaxValue (which must
    * not overflow the collect limit), each == the forced-distributed
    * rows `dist`. */
  private def gateSweep[T](what: String, n: Long, dist: T)(run: => T): Unit =
    Seq(n, n - 1L, Int.MaxValue.toLong, 4294967295L, Long.MaxValue)
      .foreach(b => withConf("graft.broadcastMaxEdges", b) {
        assert(run === dist, s"$what at bound $b")
      })

  private def forced[T](run: => T): T =
    withConf("graft.broadcastMaxEdges", 0L)(run)

  /** Rows of the canonical (u < v, distinct) edge set the undirected
    * fixpoints collect. */
  private def canonicalRows(edges: Seq[(Long, Long)]): Long =
    edges.map { case (a, b) => (a min b, a max b) }.distinct.size.toLong

  private def pairs(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1))).toSet

  private def triples(
      rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("coreness/labelPropagation: forced distributed " +
    "(broadcastMaxEdges=0) == driver loop, random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    (0 until 2).foreach { trial =>
      val n = 40 + trial * 30
      val edges = (for (_ <- 1 to 5 * n) yield
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val df = edges.toDF("u", "v")
      def coreness(): Set[(Long, Long)] =
        pairs(graft.ext.Graph.coreness(df).collect())
      def lpa(): Set[(Long, Long)] =
        pairs(graft.ext.Graph.labelPropagation(df, maxRounds = 4).collect())
      val (cD, lD) = forced((coreness(), lpa()))
      assert(coreness() === cD, s"trial $trial: coreness diverged")
      assert(lpa() === lD, s"trial $trial: LPA diverged")
      gateSweep(s"trial $trial: coreness", canonicalRows(edges), cD)(coreness())
    }
  }

  test("kCore/labelPropagation/personalizedPageRank/connectedComponents: " +
    "driver loop at the edge bound and distributed loop past it == forced " +
    "distributed, random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val n = 45
    val edges = (for (_ <- 1 to 3 * n) yield
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.distinct
    val df = edges.toDF("u", "v")
    val nCanon = canonicalRows(edges)

    def kCore(): Set[(Long, Long)] =
      pairs(graft.ext.Graph.kCore(df, k = 3).collect())
    val kD = forced(kCore())
    assert(kD.nonEmpty, "the 3-core should not be empty on this graph")
    gateSweep("kCore", nCanon, kD)(kCore())

    def lpa(): Set[(Long, Long)] =
      pairs(graft.ext.Graph.labelPropagation(df, maxRounds = 5).collect())
    gateSweep("labelPropagation", nCanon, forced(lpa()))(lpa())

    // directed both ways; one seed (n + 5) has no out-edges (d = 0). The
    // gate collects the edges and the 4 seed rows: the edges are more
    val directedRows = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .distinct
    val directed = directedRows.toDF("src", "dst")
    val seedIds = Seq(0L, 1L, 2L, n + 5L)
    val seeds = seedIds.toDF("node")
    def ppr(): Set[(Long, Long, Long)] = triples(graft.ext.Graph
      .personalizedPageRank(directed, seeds, maxIterations = 8,
        checkConvergence = true).collect())
    gateSweep("personalizedPageRank", directedRows.size.toLong,
      forced(ppr()))(ppr())

    // isolated nodes (n until n + 3) stay singleton components; the gate
    // collects the pairs as given and the n + 3 node rows
    val nodeIds = (0L until n + 3L).toDF("id")
    val ccPairs = edges.toDF("id_a", "id_b")
    def cc(): Set[(Long, Long)] = pairs(graft.ext.TextDedup
      .connectedComponents(ccPairs, nodeIds, maxRounds = 40).collect())
    gateSweep("connectedComponents", math.max(edges.size, n + 3).toLong,
      forced(cc()))(cc())
  }

  test("empty edge set: every graph driver-loop gate == forced " +
    "distributed (bound 0 takes the distributed path)") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)]
    val df = none.toDF("u", "v")
    val directed = none.toDF("src", "dst")
    val seeds = Seq(3L, 4L).toDF("node")
    def runAll(): Seq[Any] = Seq(
      pairs(graft.ext.Graph.coreness(df).collect()),
      pairs(graft.ext.Graph.kCore(df, k = 2).collect()),
      pairs(graft.ext.Graph.labelPropagation(df).collect()),
      triples(graft.ext.Graph.pageRank(directed, checkConvergence = true)
        .collect()),
      triples(graft.ext.Graph.personalizedPageRank(directed, seeds,
        checkConvergence = true).collect()),
      pairs(graft.ext.TextDedup.connectedComponents(none.toDF("id_a", "id_b"),
        Seq(7L, 8L).toDF("id")).collect()),
      pairs(graft.ext.TextDedup.connectedComponents(none.toDF("id_a", "id_b"),
        Seq.empty[Long].toDF("id")).collect()))
    val expected = Seq(Set.empty, Set.empty, Set.empty, Set.empty,
      Set((3L, 0L, 75000000000L), (4L, 0L, 75000000000L)),
      Set((7L, 7L), (8L, 8L)), Set.empty)
    assert(runAll() === expected, "default bound")
    assert(forced(runAll()) === expected, "forced distributed")
  }

  test("pageRank with convergence and in fixed rounds: driver loop at the " +
    "edge bound and distributed loop past it == forced distributed, " +
    "random graphs") {
    import spark.implicits._
    // one 30-node graph: each distributed run goes up to 30 convergence
    // supersteps, so a second, larger trial doubled the test's time
    val rnd = new scala.util.Random(29)
    val n = 30
    val edges = (for (_ <- 1 to 4 * n) yield
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.distinct
    val df = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .distinct.toDF("src", "dst")
    def run(): Set[(Long, Long, Long)] = triples(graft.ext.Graph
      .pageRank(df, maxIterations = 30, checkConvergence = true).collect())
    val dist = forced(run())
    val nEdges = df.count()
    gateSweep("pageRank", nEdges, dist)(run())
    assert(run() === dist, "pageRank at the default bound")
    // q134's mode: 3 fixed supersteps, a lazy chain when distributed
    def fixed(): Set[(Long, Long, Long)] = triples(graft.ext.Graph
      .pageRank(df, maxIterations = 3, checkConvergence = false).collect())
    gateSweep("pageRank fixed rounds", nEdges, forced(fixed()))(fixed())
    val nSrc = edges.flatMap { case (a, b) => Seq(a, b) }.distinct.size
    // pageRank is personalizedPageRank with every src node seeded, with
    // convergence on and off, in both regimes; on no edges it has no rows
    val srcs = df.select(col("src").as("node")).distinct()
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    for (conv <- Seq(true, false)) {
      def pair(): (Set[(Long, Long, Long)], Set[(Long, Long, Long)], Int) = (
        triples(graft.ext.Graph.pageRank(df, maxIterations = 8,
          checkConvergence = conv).collect()),
        triples(graft.ext.Graph.personalizedPageRank(df, srcs,
          maxIterations = 8, checkConvergence = conv).collect()),
        graft.ext.Graph.pageRank(none, checkConvergence = conv).collect().length)
      val (pr, ppr, empty) = pair()
      assert(pr.size === nSrc && pr === ppr && empty === 0, s"conv $conv")
      assert(forced(pair()) === ((pr, pr, 0)), s"conv $conv forced")
    }
  }

  test("connectedComponents: a pair naming an id outside nodes is " +
    "ignored, at the default bound and forced distributed") {
    import spark.implicits._
    // 99 joins 2 to 3 and 97/98 pair only with each other; none is a node
    val ccPairs = Seq((1L, 2L), (2L, 99L), (99L, 3L), (4L, 5L), (98L, 97L))
      .toDF("id_a", "id_b")
    val nodeIds = (1L to 5L).toDF("id")
    def cc(): Set[(Long, Long)] = pairs(graft.ext.TextDedup
      .connectedComponents(ccPairs, nodeIds).collect())
    val expected = Set((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 4L))
    assert(cc() === expected, "default bound")
    assert(forced(cc()) === expected, "forced distributed")
  }

  test("mmrSelect: an over-bound sims frame falls back to the " +
    "distributed greedy with identical rows (graft.mmrDriverMaxSims)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val cand = (1L to 20L).map(id => (id, 100L + rnd.nextInt(900)))
      .toDF("id", "rel")
    val sims = (for {
      a <- 1L to 20L; b <- (a + 1) to 20L if rnd.nextInt(3) > 0
    } yield (a, b, rnd.nextInt(2001).toLong - 500L)).toDF("a", "b", "sim")
    def run(): Seq[Seq[Any]] = graft.ext.Retrieval
      .mmrSelect(cand, sims, "id", "rel", k = 8)
      .collect().map(_.toSeq).toSeq
    val driver = run()
    spark.conf.set("graft.mmrDriverMaxSims", "1") // sims over the bound
    val dist = try run()
    finally spark.conf.unset("graft.mmrDriverMaxSims")
    assert(driver === dist, "over-bound sims fallback diverged")
  }

  test("mergeState replay-gate memo: an EXTERNAL state rewrite changes " +
    "the listing key and the gate re-reads the real watermark") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("r19_memo_").toString
    val statePath = root + "/state"
    def batch(b: Long) = Seq((b, 1L, 2L), (b, 2L, 2L))
      .toDF("bid", "label", "pred")
    def merge(b: Long): Long = graft.streaming.StreamEval.mergeBatch(
      spark, batch(b), "label", "pred", statePath, b)
    assert(merge(0L) > 0L && merge(1L) > 0L)
    assert(merge(1L) === 0L, "replay must no-op (memo fast path)")
    // external writer rewrites the state with a HIGHER watermark — the
    // memo still says 1, but the listing key changed, so the gate must
    // re-read and treat batch 2 as already merged
    Seq((5L, 1L, 1L, 3L)).toDF("batch_id", "label", "pred", "n")
      .write.mode("overwrite").parquet(statePath)
    assert(merge(2L) === 0L,
      "gate trusted a stale memo after an external rewrite")
    // and a batch above the external watermark still merges
    assert(merge(6L) > 0L)
    graft.streaming.StreamEval.clearMaxSeenCache()
  }
}
