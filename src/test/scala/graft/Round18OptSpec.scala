package graft

import org.apache.spark.sql.functions._

/** Round-18 optimization pins: every change an optimization makes to an
  * operator's internals keeps its output byte-identical, proven here
  * against the formulation it replaced. */
class Round18OptSpec extends SparkSpec {

  private def withConf[T](key: String, value: Long)(f: => T): T = {
    spark.conf.set(key, value.toString)
    try f finally spark.conf.unset(key)
  }

  /** Bounds whose `bound + 1` overflowed the old inline `.toInt` limit:
    * Int.MaxValue gave a negative limit, 2^32 − 1 gave `limit(0)`. */
  private val hugeBounds = Seq(Int.MaxValue.toLong, 4294967295L, Long.MaxValue)

  test("trainCentroids / pqTrain: driver-loop Lloyd == distributed Lloyd " +
    "(graft.kmeansDriverMaxRows gates the two paths)") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    // quantized floats: sums stay exactly representable in double, so
    // the one legitimately order-free step (the cell MEAN) cannot
    // introduce ulp noise into the A/B
    val vecs = (1L to 300L).map { id =>
      (id, Seq.fill(8)((rnd.nextInt(2001) - 1000).toFloat / 256.0f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    def runBoth[T](f: () => T): (T, T) = {
      val driver = f()
      spark.conf.set("graft.kmeansDriverMaxRows", "0")
      val dist = try f()
      finally spark.conf.unset("graft.kmeansDriverMaxRows")
      (driver, dist)
    }
    val (cd, cx) = runBoth(() =>
      graft.ext.VectorIndex.trainCentroids(df, "embedding", k = 5,
        iterations = 3).map(_.toSeq).toSeq)
    assert(cd === cx, "trainCentroids driver path diverged")
    val (pd, px) = runBoth(() =>
      graft.ext.VectorIndex.pqTrain(df, "embedding", "vec_id",
        m = 2, k = 4, iterations = 3).map(_.map(_.toSeq).toSeq).toSeq)
    assert(pd === px, "pqTrain driver path diverged")
    hugeBounds.foreach { b =>
      withConf("graft.kmeansDriverMaxRows", b) {
        assert(graft.ext.VectorIndex.trainCentroids(df, "embedding", k = 5,
          iterations = 3).map(_.toSeq).toSeq === cd,
          s"trainCentroids diverged at bound $b")
        assert(graft.ext.VectorIndex.pqTrain(df, "embedding", "vec_id",
          m = 2, k = 4, iterations = 3).map(_.map(_.toSeq).toSeq).toSeq === pd,
          s"pqTrain diverged at bound $b")
      }
    }
  }

  test("Spectral.iterate: driver-loop power steps == distributed scans " +
    "(graft.spectralDriverMaxRows gates the two paths)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vecs = (1L to 200L).map { id =>
      (id, Seq.fill(16)((rnd.nextInt(513) - 256).toFloat / 128.0f))
    }
    val df = vecs.toDF("vec_id", "embedding").coalesce(1)
    def run(): (Seq[Float], Seq[Float], Seq[(Int, Double, Double)]) = {
      val (mu, v, res) = graft.ext.Spectral
        .topComponentWithResiduals(df, "embedding", iterations = 6)
      (mu.toSeq, v.toSeq, res)
    }
    val driver = run()
    spark.conf.set("graft.spectralDriverMaxRows", "0")
    val dist = try run()
    finally spark.conf.unset("graft.spectralDriverMaxRows")
    assert(driver === dist, "spectral driver path diverged")
    hugeBounds.foreach(b => withConf("graft.spectralDriverMaxRows", b) {
      assert(run() === driver, s"spectral diverged at bound $b")
    })
  }

  test("hashSortedIntersect over hashSortTokens structs == the hash-set " +
    "intersectCount it replaced, across random distinct-token arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(18)
    val vocab = (1 to 400).map(i => s"tok_${i}_" + ("x" * (i % 17)))
    val rows = (1 to 80).map { i =>
      val a = rnd.shuffle(vocab).take(1 + rnd.nextInt(60)).distinct
      val b = rnd.shuffle(vocab).take(1 + rnd.nextInt(60)).distinct
      (i.toLong, a, b)
    } :+ (998L, Seq("solo"), Seq.empty[String]) :+
      (999L, Seq.empty[String], Seq.empty[String])
    val df = rows.toDF("id", "a", "b")
    val both = df.select($"id",
      graft.plans.TextExpressions.intersectCount($"a", $"b").as("old"),
      graft.plans.TextExpressions.hashSortedIntersect(
        graft.plans.TextExpressions.hashSortTokens($"a"),
        graft.plans.TextExpressions.hashSortTokens($"b")).as("nw"))
      .collect()
    both.foreach(r => assert(r.getLong(1) === r.getLong(2),
      s"intersect diverged at id=${r.getLong(0)}"))
  }

  test("hashSortedIntersect equal-hash runs: collisions are confirmed " +
    "by string equality, never miscounted") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def side(pairs: (Long, String)*): GenericInternalRow =
      new GenericInternalRow(Array[Any](
        new GenericArrayData(pairs.map(_._1).toArray),
        new GenericArrayData(
          pairs.map(p => UTF8String.fromString(p._2)).toArray[Any])))
    // crafted COLLIDING hashes: run of 3 on A vs run of 2 on B at h=5;
    // only "bb" and "cc" are true string matches inside the run
    val a = side(1L -> "z", 5L -> "aa", 5L -> "bb", 5L -> "cc", 9L -> "q")
    val b = side(5L -> "bb", 5L -> "cc", 7L -> "nn", 9L -> "q")
    assert(graft.plans.JaccardUtil.hashSortedIntersect(a, b) === 3L)
    // 1x1 equal-hash run whose strings DIFFER (pure collision) counts 0
    val c = side(5L -> "aa")
    val d = side(5L -> "zz")
    assert(graft.plans.JaccardUtil.hashSortedIntersect(c, d) === 0L)
  }

  test("WinnowFps expression == the HOF md5/array_min/slice pipeline " +
    "it replaced, including array order, across (k, w) shapes") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "dup", "model", "the", "")
    val texts = (1 to 60).map { i =>
      val n = 8 + rnd.nextInt(60)
      (i.toLong, (0 until n).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    } :+ (999L, "  leading   and trailing   whitespace body of a doc  ")
    val docs = texts.toDF("doc_id", "text")
    for ((k, w) <- Seq((4, 5), (6, 5), (3, 2), (1, 1))) {
      val toks = docs
        .select($"doc_id", graft.functions.TextFns.tokens($"text").as("t"))
        .filter(size($"t") >= k + w - 1)
      // the exact pre-r18 formulation (TextDedup.winnowFingerprints)
      val hofHashes = transform(
        graft.functions.TextFns.ngramsFromTokens($"t", k), g => md5(g))
      val hof = toks.select($"doc_id", hofHashes.as("hs"))
        .select($"doc_id", array_distinct(transform(
          sequence(lit(1), size($"hs") - (w - 1)),
          q => array_min(slice($"hs", q, lit(w))))).as("fps"))
      val fused = toks.select($"doc_id",
        graft.plans.TextExpressions.winnowFps($"t", k, w).as("fps"))
      val a = hof.orderBy($"doc_id").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1))
      val b = fused.orderBy($"doc_id").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1))
      assert(a.toSeq === b.toSeq,
        s"winnow expression diverged from the HOF pipeline at k=$k w=$w")
    }
  }

  test("DistinctNGrams expression == array_distinct(ngramsFromTokens) " +
    "including array order, across n and short-tail inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val vocab = Vector("alpha", "beta", "gamma", "", "dup", "the")
    val texts = (1 to 50).map { i =>
      val n = 1 + rnd.nextInt(40)
      (i.toLong, (0 until n).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    val docs = texts.toDF("doc_id", "text")
      .select($"doc_id", graft.functions.TextFns.tokens($"text").as("t"))
    for (n <- Seq(1, 3, 5)) {
      val hof = docs.select($"doc_id", array_distinct(
        graft.functions.TextFns.ngramsFromTokens($"t", n)).as("g"))
        .orderBy($"doc_id").collect().map(r => r.getSeq[String](1))
      val fused = docs.select($"doc_id",
        graft.plans.TextExpressions.distinctNgrams($"t", n).as("g"))
        .orderBy($"doc_id").collect().map(r => r.getSeq[String](1))
      assert(hof.toSeq === fused.toSeq, s"diverged at n=$n")
    }
  }

  test("triangleCount: adjacency-intersection close == wedge-join close " +
    "on random graphs (broadcastMaxEdges gates the two paths)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 4) {
      val n = 20 + trial * 15
      val edges = (for {
        u <- 0 until n; v <- (u + 1) until n
        if rnd.nextDouble() < 0.15
      } yield (u.toLong, v.toLong)).toDF("u", "v")
      val fast = graft.ext.Graph.triangleCount(edges, assumeCanonical = true)
        .head().getLong(0)
      spark.conf.set("graft.broadcastMaxEdges", "0")
      val wedge = try graft.ext.Graph
        .triangleCount(edges, assumeCanonical = true).head().getLong(0)
      finally spark.conf.unset("graft.broadcastMaxEdges")
      assert(fast === wedge, s"trial $trial: intersect path diverged")
    }
    // expression semantics on its own: merge count of sorted arrays
    val c = Seq((Array(1L, 3L, 5L, 9L), Array(2L, 3L, 9L, 10L)))
      .toDF("a", "b")
      .select(graft.plans.GraphExpressions.sortedIntersectCount($"a", $"b"))
      .head().getLong(0)
    assert(c === 2L)
  }

  test("mmrSelect: driver-loop greedy == distributed rounds " +
    "(graft.mmrDriverMaxCandidates gates the two paths)") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val cand = (1L to 20L).map(id => (id, 40L + rnd.nextInt(80)))
    val sims = (for {
      a <- 1L to 20L; b <- (a + 1) to 20L
      if rnd.nextDouble() < 0.4
    } yield (a, b, rnd.nextInt(200).toLong - 60L))
    def mmr(c: Seq[(Long, Long)], sm: Seq[(Long, Long, Long)],
        k: Int): Seq[(Long, Long, Long, Long, Long)] = graft.ext.Retrieval
      .mmrSelect(c.toDF("id", "rel"), sm.toDF("a", "b", "sim"),
        "id", "rel", k = k, lamNum = 7, lamDen = 10)
      .orderBy($"rank")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    def run(): Seq[(Long, Long, Long, Long, Long)] = mmr(cand, sims, 8)
    val driver = run()
    val dist = withConf("graft.mmrDriverMaxCandidates", 0L)(run())
    assert(driver === dist)
    // gate boundaries: exactly `bound` rows run the driver greedy,
    // `bound + 1` fall back; both must give the distributed rows. k
    // ranks every candidate, so a candidate the collect dropped shows.
    def distOf(c: Seq[(Long, Long)], sm: Seq[(Long, Long, Long)]) =
      withConf("graft.mmrDriverMaxCandidates", 0L)(mmr(c, sm, c.size))
    val all = distOf(cand, sims)
    Seq(cand.size.toLong, cand.size - 1L).foreach(b =>
      withConf("graft.mmrDriverMaxCandidates", b) {
        assert(mmr(cand, sims, cand.size) === all,
          s"mmr diverged at candidate bound $b")
      })
    // the sims bound: the frame and two one-pair frames whose candidates
    // are picked in opposite orders, so whichever direction of the pair
    // a short collect dropped, one of them reads it
    val pair = Seq((1L, 2L, 500L))
    Seq((cand, sims), (Seq((1L, 100L), (2L, 90L)), pair),
        (Seq((1L, 90L), (2L, 100L)), pair)).foreach { case (c, sm) =>
      val want = distOf(c, sm)
      val nSym = 2L * sm.size // distinct a < b pairs, both directions
      Seq(nSym, nSym - 1).foreach(b =>
        withConf("graft.mmrDriverMaxSims", b) {
          assert(mmr(c, sm, c.size) === want, s"mmr diverged at sims bound $b")
        })
    }
    hugeBounds.foreach { b =>
      withConf("graft.mmrDriverMaxCandidates", b) {
        assert(run() === driver, s"mmr diverged at candidate bound $b")
      }
      withConf("graft.mmrDriverMaxSims", b) {
        assert(run() === driver, s"mmr diverged at sims bound $b")
      }
    }
  }

  test("WinnowFps on inputs below one full window returns empty " +
    "(outside winnowFingerprints' filtered domain)") {
    import spark.implicits._
    val docs = Seq((1L, "only three tokens")).toDF("doc_id", "text")
    val got = docs.select(graft.plans.TextExpressions.winnowFps(
      graft.functions.TextFns.tokens($"text"), 4, 5).as("fps"))
      .head().getSeq[String](0)
    assert(got.isEmpty)
  }
}
