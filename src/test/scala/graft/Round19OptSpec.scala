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

  test("coOccurrenceEdges: packed-long distinct == struct distinct == " +
    "brute-force pair join (32-bit gate picks the path)") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val rows = (1 to 400).flatMap { g =>
      val items = Seq.fill(1 + rnd.nextInt(8))(rnd.nextInt(50).toLong)
      items.map(i => (g.toLong, i))
    }
    val small = rows.toDF("grp", "item") // ids < 2^31 → packed path
    // the SAME graph with every id offset past 2^31 → struct path
    val big = rows.map { case (g, i) => (g, i + (1L << 31)) }
      .toDF("grp", "item")
    spark.conf.set("graft.packEdgeKeys", "true") // default off (A/B'd)
    val (packed, struct) = try {
      val p = graft.ext.Graph.coOccurrenceEdges(small, "grp", "item")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val s = graft.ext.Graph.coOccurrenceEdges(big, "grp", "item")
        .collect()
        .map(r => (r.getLong(0) - (1L << 31), r.getLong(1) - (1L << 31)))
        .toSet
      (p, s)
    } finally spark.conf.unset("graft.packEdgeKeys")
    val brute = rows.groupBy(_._1).values.flatMap { grp =>
      val its = grp.map(_._2).distinct.sorted
      for (i <- its.indices; j <- i + 1 until its.length)
        yield (its(i), its(j))
    }.toSet
    assert(packed === brute, "packed-long pair set diverged from brute")
    assert(struct === brute, "struct pair set diverged from brute")
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

  test("coreness/labelPropagation: shuffle_hash value join == broadcast " +
    "== planner-default, forced-distributed, random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    (0 until 2).foreach { trial =>
      val n = 40 + trial * 30
      val edges = (for (_ <- 1 to 5 * n) yield
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val df = edges.toDF("u", "v")
      def runBoth(): (Set[(Long, Long)], Set[(Long, Long)]) = {
        val c = graft.ext.Graph.coreness(df)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val l = graft.ext.Graph.labelPropagation(df, maxRounds = 4)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        (c, l)
      }
      spark.conf.set("graft.driverLoopMaxNodes", "0") // distributed loops
      val ((cS, lS), (cB, lB), (cP, lP)) = try {
        val shj = runBoth() // default mode: shuffle_hash
        spark.conf.set("graft.valueJoinMode", "broadcast")
        val bc = runBoth()
        spark.conf.set("graft.valueJoinMode", "smj")
        val pl = runBoth()
        (shj, bc, pl)
      } finally {
        spark.conf.unset("graft.valueJoinMode")
        spark.conf.unset("graft.driverLoopMaxNodes")
      }
      assert(cS === cB && cS === cP, s"trial $trial: coreness diverged")
      assert(lS === lB && lS === lP, s"trial $trial: LPA diverged")
      // driver-loop gate boundaries: a degree frame of exactly `bound`
      // nodes runs the driver loop, `bound + 1` the distributed one;
      // bounds past Int.MaxValue must not overflow the collect limit
      def coreness(): Set[(Long, Long)] = graft.ext.Graph.coreness(df)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val nNodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct.size
      (Seq(nNodes.toLong, nNodes - 1L) ++
        Seq(Int.MaxValue.toLong, 4294967295L, Long.MaxValue)).foreach(b =>
        withConf("graft.driverLoopMaxNodes", b) {
          assert(coreness() === cS, s"trial $trial: coreness at bound $b")
        })
    }
  }

  test("pageRank with convergence: driver loop at the node bound and " +
    "distributed loop past it == forced distributed, random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    (0 until 2).foreach { trial =>
      val n = 30 + trial * 25
      val edges = (for (_ <- 1 to 4 * n) yield
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val df = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .distinct.toDF("src", "dst")
      def run(): Set[(Long, Long, Long)] = graft.ext.Graph
        .pageRank(df, maxIterations = 30, checkConvergence = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val dist = withConf("graft.driverLoopMaxNodes", 0L)(run())
      val nSrc = edges.flatMap { case (a, b) => Seq(a, b) }.distinct.size
      (Seq(nSrc.toLong, nSrc - 1L) ++
        Seq(Int.MaxValue.toLong, 4294967295L, Long.MaxValue)).foreach(b =>
        withConf("graft.driverLoopMaxNodes", b) {
          assert(run() === dist, s"trial $trial: pageRank at bound $b")
        })
      assert(run() === dist, s"trial $trial: pageRank at the default bound")
    }
  }

  test("StreamNovelty.bloomWords aggregate == packedGlobal(batchWords) " +
    "over the same keys (nulls skipped)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val keys = (1 to 500).map(i =>
      if (i % 97 == 0) null else s"fp_${rnd.nextInt(100000)}_$i")
    val df = keys.toDF("fingerprint").repartition(7)
    val bits = 1 << 12
    val hashes = 5
    val viaAgg = df.agg(graft.streaming.StreamNovelty
        .bloomWords(col("fingerprint"), bits, hashes).as("w"))
      .head().getSeq[Long](0)
    val viaFrames = graft.streaming.StreamNovelty.packedGlobal(
      graft.streaming.StreamNovelty.batchWords(df, "fingerprint",
        bits, hashes, buckets = 1), bits, buckets = 1)
      .head().getSeq[Long](0)
    assert(viaAgg === viaFrames, "bloomWords aggregate diverged")
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

  test("winnowNoveltyFromSet + appendFingerprintBatch: bloom probe with " +
    "driver-held survivors == exact plain probe (rows identical)") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val docs = (1L to 120L).map { id =>
      val toks = Seq.fill(12 + rnd.nextInt(20))("w" + rnd.nextInt(40))
      (id, toks.mkString(" "))
    }.toDF("doc_id", "text")
    def run(bloomBits: Int): Seq[Seq[Any]] = {
      val statePath = java.nio.file.Files
        .createTempDirectory("r19_fp_").toString + "/state"
      val corpus = docs.filter($"doc_id" % 10 =!= 0)
      (0L to 2L).foreach { b =>
        graft.streaming.StreamEval.appendFingerprintBatch(spark,
          corpus.filter($"doc_id" % 3 === b), "doc_id", "text",
          statePath, b, 3, 4, bloomBits = bloomBits)
      }
      graft.streaming.StreamEval.winnowNoveltyFromSet(spark, statePath,
          docs.filter($"doc_id" % 10 === 0), "doc_id", "text", 3, 4,
          bloomBits = bloomBits)
        .orderBy($"doc_id").collect().map(_.toSeq).toSeq
    }
    val plain = run(0)
    val bloomed = run(1 << 10) // deliberately small: real FPs flow
    assert(plain === bloomed, "bloom-prefiltered novelty rows diverged")
  }
}
