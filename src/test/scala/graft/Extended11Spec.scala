package graft

import org.apache.spark.sql.functions._

import graft.queries.{Extended11, Tables}

/** Round-8 third batch (q151–q152): oracle hash-parity is the
  * correctness gate; these pin the filter-completeness and orientation
  * invariants the oracle can't see.
  */
class Extended11Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q151: q-gram filter is complete — equals brute-force levenshtein") {
    import spark.implicits._
    val names = Tables.load(spark, dir, "part")
      .select($"p_name").distinct().as[String].collect()
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val naive = (for {
      a <- names; b <- names if a < b
      l = lev(a, b) if l <= 2
    } yield (a, b, l.toLong)).sortBy(x => (x._1, x._2))
    val got = Extended11.q151(spark, dir)
      .as[(String, String, Long)].collect().toSeq
    assert(got === naive.toSeq, "blocking dropped a qualifying pair")
    assert(naive.nonEmpty, "degenerate fixture")
  }

  test("greedyCover: early stop on exhaustion; checkpointDir parity") {
    import spark.implicits._
    // 3 docs cover the whole 5-element universe by round 2 — asking for
    // 5 rounds must return only the rounds that gained anything
    val pairs = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "d"), (2L, "e"),
      (3L, "a"), (3L, "d")).toDF("doc", "el")
    // mmrSelect is the same greedy shape; its distributed rounds (the
    // driver-loop gate at 0) pin each winner frame
    val cands = Seq((1L, 90L), (2L, 85L), (3L, 70L), (4L, 60L), (5L, 40L))
      .toDF("id", "rel")
    val sims = Seq((1L, 2L, 95L), (1L, 3L, 10L), (2L, 4L, 50L), (3L, 5L, 80L))
      .toDF("a", "b", "sim")
    def mmr() = {
      spark.conf.set("graft.mmrDriverMaxCandidates", "0")
      try graft.ext.Retrieval.mmrSelect(cands, sims, "id", "rel", k = 4)
        .orderBy($"rank").as[(Long, Long, Long, Long, Long)].collect().toSeq
      finally spark.conf.unset("graft.mmrDriverMaxCandidates")
    }
    val ((got, mmrLocal), (ck, mmrCk), _) = localAndReliable((
      graft.ext.TrainPrep.greedyCover(pairs, "doc", "el", rounds = 5)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq,
      mmr()))
    assert(got === Seq((1L, 1L, 3L), (2L, 2L, 2L)),
      "doc 3 adds nothing once 1 and 2 are taken; rounds 3+ must not emit")
    assert(ck === got)
    assert(mmrCk === mmrLocal)
    assert(mmrLocal.map(_._2) === Seq(1L, 3L, 4L, 2L))
  }

  test("q153: greedy rounds replay brute-force; gains non-increasing") {
    import spark.implicits._
    val rows = Extended11.q153(spark, dir).collect()
    assert(rows.length === 3)
    val gains = rows.sortBy(_.getAs[Long]("round")).map(_.getAs[Long]("gain"))
    assert(gains.toSeq === gains.sorted(Ordering[Long].reverse).toSeq,
      "greedy marginal gains must be non-increasing")
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length === 3)
    // brute-force replay of the greedy on driver
    val sets = Tables.load(spark, dir, "documents")
      .select($"doc_id", array_distinct(
        graft.functions.TextFns.ngramsFromTokens(
          graft.functions.TextFns.tokens($"text"), 3)).as("ng"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, ng) => id -> ng.toSet }.toMap
    var covered = Set.empty[String]
    var chosen = Set.empty[Long]
    val expect = (1 to 3).map { r =>
      val (doc, gain) = sets.filterNot(kv => chosen(kv._1))
        .map { case (id, ng) => id -> (ng -- covered).size }
        .minBy { case (id, g) => (-g, id) }
      covered ++= sets(doc); chosen += doc
      (r.toLong, doc, gain.toLong)
    }
    val got = rows.sortBy(_.getAs[Long]("round"))
      .map(r => (r.getAs[Long]("round"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("gain"))).toSeq
    assert(got === expect)
  }

  test("q154: weighted median replays the vote-expansion definition") {
    import spark.implicits._
    val rows = Extended11.q154(spark, dir).collect()
    assert(rows.nonEmpty)
    // expand each line to `weight` copies of its cents value; the
    // weighted median is the value at the ceil-half position
    val votes = Tables.load(spark, dir, "lineitem")
      .select($"l_returnflag".as("flag"),
        floor($"l_extendedprice" * 100 + 0.5).cast("long").as("cents"),
        floor($"l_quantity" + 0.5).cast("long").as("w"))
      .as[(String, Long, Long)].collect()
      .groupBy(_._1)
    rows.foreach { r =>
      val flag = r.getAs[String]("flag")
      val expanded = votes(flag)
        .flatMap { case (_, c, w) => Seq.fill(w.toInt)(c) }.sorted
      val med = expanded((expanded.length + 1) / 2 - 1)
      assert(r.getAs[Long]("median_cents") === med, s"flag $flag")
      assert(r.getAs[Long]("total_w") === expanded.length.toLong)
    }
  }

  test("q155: GlobalRank == windowed row_number at any partition count") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"n_chars")
    val want = docs
      .withColumn("rank",
        row_number().over(Window.orderBy($"n_chars", $"doc_id"))
          .cast("long"))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("rank")).toMap
    for (parts <- Seq(1, 3, 16)) {
      val got = graft.operators.GlobalRank
        .withRank(docs, Seq($"n_chars", $"doc_id"), partitions = parts)
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("rank")).toMap
      assert(got === want, s"partitions=$parts")
    }
  }

  test("withRankAndPrefixSum == windowed rank+cumsum, desc order, any partitioning") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // q171's exact shape: rank and exclusive prefix sum over a DESC
    // score order with an id tiebreaker, fused into one sorted pass
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"n_chars".as("score"),
        when($"lang" === "en", 1L).otherwise(0L).as("rel"))
    val ord = Window.orderBy($"score".desc, $"doc_id".asc)
    val want = docs
      .withColumn("k", row_number().over(ord).cast("long"))
      .withColumn("tp_before", coalesce(
        sum($"rel").over(ord.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("k"), r.getAs[Long]("tp_before"))).toMap
    for (parts <- Seq(1, 3, 16)) {
      val got = graft.operators.GlobalRank
        .withRankAndPrefixSum(docs, Seq($"score".desc, $"doc_id".asc),
          "rel", "k", "tp_before", partitions = parts)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getAs[Long]("k"), r.getAs[Long]("tp_before"))).toMap
      assert(got === want, s"partitions=$parts")
    }
  }

  test("withKeyedRankAndPrefixSum == windowed PARTITION BY, any partitioning") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // TrainPrep.pack's exact shape: per-source rank + exclusive cumsum
    // over doc_id order, where `source` is low-cardinality (4 values
    // spanning many range partitions — the few-source 100 TB layout
    // the keyed two-pass exists for)
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source", $"n_chars".cast("long").as("v"))
    val w = Window.partitionBy($"source").orderBy($"doc_id")
    val want = docs
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cum", coalesce(sum($"v")
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("rn"), r.getAs[Long]("cum")))
      .toMap
    for (parts <- Seq(1, 3, 16)) {
      val got = graft.operators.GlobalRank
        .withKeyedRankAndPrefixSum(docs, Seq("source"), Seq($"doc_id"),
          "v", "rn", "cum", partitions = parts)
        .collect()
        .map(r => r.getLong(0) -> (r.getAs[Long]("rn"), r.getAs[Long]("cum")))
        .toMap
      assert(got === want, s"partitions=$parts")
    }
  }

  test("withKeyedPrefixSum: null values sum as 0, null keys group (window parity)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = Seq[(Long, Option[String], Option[Long])](
      (1L, Some("a"), Some(10L)), (2L, Some("a"), None),
      (3L, Some("a"), Some(5L)), (4L, None, Some(7L)),
      (5L, None, Some(2L)), (6L, Some("b"), Some(1L)),
      (7L, Some("b"), Some(3L))
    ).toDF("id", "k", "v")
    val w = Window.partitionBy($"k").orderBy($"id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = df.withColumn("cum", coalesce(sum($"v").over(w), lit(0L)))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("cum")).toMap
    for (parts <- Seq(1, 4)) {
      val got = graft.operators.GlobalRank
        .withKeyedPrefixSum(df, Seq("k"), Seq($"id"), "v", "cum",
          partitions = parts)
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("cum")).toMap
      assert(got === want, s"partitions=$parts")
    }
  }

  test("q105 keyed two-pass == windowed percent_rank/cume_dist/rank") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // the windowed original q105 replaced in round 12 — its arithmetic
    // must be reproduced EXACTLY by the (rank, per-key count) form
    val w = Window.partitionBy($"event_type").orderBy($"value", $"event_id")
    val want = Tables.load(spark, dir, "events")
      .filter($"event_id" % 20 === 0)
      .select($"event_type", $"event_id", $"value",
        (floor(percent_rank().over(w) * 1e6 + lit(0.5)) / 1e6).as("pr"),
        (floor(cume_dist().over(w) * 1e6 + lit(0.5)) / 1e6).as("cd"),
        rank().over(w).as("rk"))
      .select($"event_type", $"event_id", round($"value", 4).as("v"),
        $"pr", $"cd", $"rk")
      .orderBy($"event_type", $"event_id")
      .collect().toSeq
    val got = graft.queries.Extended3.q105(spark, dir).collect().toSeq
    assert(got === want)
    assert(want.nonEmpty, "degenerate fixture")
  }

  test("q129 keyed two-pass == windowed nucleus selection") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val bySrc = Window.partitionBy($"source")
    val w = bySrc.orderBy($"n_chars".desc, $"doc_id")
    val want = Tables.load(spark, dir, "documents")
      .withColumn("cum", sum($"n_chars").over(w))
      .withColumn("tot", sum($"n_chars").over(bySrc))
      .withColumn("n_total", count(lit(1)).over(bySrc))
      .filter($"cum" * 5 <= $"tot" * 4)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_kept"),
        sum($"n_chars").cast("long").as("chars_kept"),
        max($"n_total").as("n_total"))
      .select($"source", $"n_kept", $"chars_kept",
        expr("n_kept * 1000000 div n_total").as("kept_ppm"))
      .orderBy($"source")
      .collect().toSeq
    val got = graft.queries.Extended6.q129(spark, dir).collect().toSeq
    assert(got === want)
    assert(want.nonEmpty, "degenerate fixture")
  }

  test("withNtile == windowed ntile: remainders, n < k, any partitioning") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 25 = 2·10+5 exercises the mixed ⌈n/k⌉/⌊n/k⌋ tile sizes; 7 < 10
    // exercises the q=0 branch; 40 is the exact-division case
    for ((n, k) <- Seq((25, 10), (7, 10), (40, 10), (100, 3))) {
      val df = (1 to n).map(i => (i.toLong * 7 % n, i.toLong)).toDF("v", "id")
      val want = df
        .withColumn("tile", ntile(k).over(Window.orderBy($"v", $"id")))
        .collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
      for (parts <- Seq(1, 4)) {
        val got = graft.operators.GlobalRank
          .withNtile(df, Seq($"v", $"id"), k, partitions = parts)
          .collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
        assert(got === want, s"n=$n k=$k partitions=$parts")
      }
    }
  }

  test("q152: orientation bounds fan-out; count == unoriented closure") {
    import spark.implicits._
    val op = Tables.load(spark, dir, "lineitem")
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
    val e = op.as("a").join(op.as("b"), $"a.o" === $"b.o" && $"a.p" < $"b.p")
      .select($"a.p".as("u"), $"b.p".as("v")).distinct()
    val m = e.count()
    // unoriented reference count: (a<b), (b<c), (a,c) closure
    val naive = e.as("e1").join(e.as("e2"), $"e1.v" === $"e2.u")
      .join(e.as("e3"),
        $"e3.u" === $"e1.u" && $"e3.v" === $"e2.v")
      .count()
    val row = Extended11.q152(spark, dir).collect().head
    assert(row.getAs[Long]("n_triangles") === naive)
    assert(row.getAs[Long]("n_edges") === m)
    // the orientation invariant: max OUT-degree is far below the max
    // raw degree (the hub problem the orientation exists to solve) and
    // within the O(sqrt m) regime
    val deg = e.select(explode(array($"u", $"v")).as("n"))
      .groupBy($"n").agg(count(lit(1)).as("d"))
    val withOrd = e
      .join(deg.select($"n".as("u"), ($"d" * 1000000 + $"n").as("ou")), "u")
      .join(deg.select($"n".as("v"), ($"d" * 1000000 + $"n").as("ov")), "v")
    val outDeg = withOrd
      .select(least($"ou", $"ov").as("lo"))
      .groupBy($"lo").agg(count(lit(1)).as("od"))
      .agg(max($"od")).head().getLong(0)
    val maxDeg = deg.agg(max($"d")).head().getLong(0)
    assert(outDeg <= maxDeg,
      s"orientation can only reduce fan-out (out $outDeg vs deg $maxDeg)")
    assert(outDeg <= 8 * math.sqrt(m.toDouble).toLong + 1,
      s"out-degree $outDeg far outside the O(sqrt m)=~${math.sqrt(m.toDouble)} regime")
  }
}
