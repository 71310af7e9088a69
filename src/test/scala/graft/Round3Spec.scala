package graft

import org.apache.spark.sql.functions._

import graft.queries.Extended3

/** Unit-level invariants and plan contracts for the round-3 queries
  * (the DuckDB oracle at sf0.01 is the value-level gate; these pin the
  * semantics that the oracle can't see — plan shapes, degenerate
  * inputs, bound guarantees). Runs on sf0.001 where a table is needed.
  */
class Round3Spec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("q79 repetition fractions on a degenerate doc") {
    // "spam spam spam spam" → dup 3/4, top token 4/4... build via the same
    // explode+agg shape the query uses, on a two-doc frame
    val docs = Seq((1L, "spam spam spam spam"), (2L, "a b c d"))
      .toDF("doc_id", "text")
    val tok = docs
      .select($"doc_id", explode(graft.functions.TextFns.tokens($"text")).as("t"))
      .groupBy($"doc_id", $"t").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n"), count(lit(1)).as("d"), max($"c").as("m"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(tok(1L) === ((4L, 1L, 4L))) // dup_frac 3/4, top_frac 1.0
    assert(tok(2L) === ((4L, 4L, 1L))) // dup_frac 0, top_frac 1/4
  }

  test("q79/q80/q85/q86 invariants hold on sf0.001") {
    val rep = Extended3.q79(spark, sf).collect()
    rep.foreach { r =>
      val (dup, top) = (r.getDouble(2), r.getDouble(3))
      assert(dup >= 0.0 && dup < 1.0)
      assert(top > 0.0 && top <= 1.0 && top + dup / r.getLong(1) <= 1.0 + top)
    }
    // decontamination: benchmark ids ≡ 0 (mod 25), train ids not
    Extended3.q80(spark, sf).collect().foreach { r =>
      assert(r.getLong(1) % 25 === 0L)
      assert(r.getLong(0) % 25 !== 0L)
      assert(r.getLong(2) >= 1L)
    }
    // quantization: |qsum| ≤ 127*dim; error ≤ scale/2 + float slop
    Extended3.q85(spark, sf).collect().foreach { r =>
      val (scale, err, qsum) = (r.getDouble(1), r.getDouble(2), r.getLong(3))
      assert(err <= scale / 2 + 1e-6, s"err $err vs scale $scale")
      assert(math.abs(qsum) <= 127L * 4096)
    }
  }

  test("q86 packing emits contiguous, non-overlapping doc ranges per source") {
    val rows = Extended3.q86(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)))
    rows.groupBy(_._1).foreach { case (_, bs) =>
      val sorted = bs.sortBy(_._2)
      // batch ids increase and doc ranges never interleave
      sorted.sliding(2).foreach {
        case Array((_, b1, _, _, last1), (_, b2, _, first2, _)) =>
          assert(b1 < b2)
          assert(last1 < first2, "doc ranges must not overlap")
        case _ =>
      }
    }
    // every document lands in exactly one batch
    val total = graft.queries.Tables.load(spark, sf, "documents").count()
    assert(rows.map(_._3).sum === total)
  }

  test("q81 broadcasts the query side; q80 broadcasts the benchmark side") {
    val knn = Extended3.q81(spark, sf).queryExecution.executedPlan.toString
    assert(knn.contains("BroadcastNestedLoopJoin") ||
      knn.contains("BroadcastExchange"), s"expected broadcast in:\n$knn")
    val deco = Extended3.q80(spark, sf).queryExecution.executedPlan.toString
    assert(deco.contains("BroadcastHashJoin"), s"expected BHJ in:\n$deco")
  }

  test("q81 ranks are dense 1..3 per query with non-increasing similarity") {
    val rows = Extended3.q81(spark, sf)
      .select($"query_id", $"rank", $"cos_sim").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to sorted.length))
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._3 >= b._3
        case _           => true
      })
    }
  }

  test("TopKLong aggregator: bounded buffer, multiset semantics, merge order") {
    import graft.functions.TopKLong
    val a = TopKLong(3)
    // reduce keeps duplicates and caps at k, descending
    val buf = Seq(9L, 5L, 3L, 7L, 9L, 1L).foldLeft(a.zero)(a.reduce)
    assert(buf === Seq(9L, 9L, 7L))
    // merge of two partials == reduce over the concatenation
    val left = Seq(10L, 2L).foldLeft(a.zero)(a.reduce)
    val right = Seq(8L, 11L, 3L).foldLeft(a.zero)(a.reduce)
    assert(a.merge(left, right) === Seq(11L, 10L, 8L))
    assert(a.merge(right, left) === a.merge(left, right))
    // distributed result matches a window-rank formulation
    val df = Seq(("a", 5L), ("a", 9L), ("a", 1L), ("a", 9L), ("b", 2L))
      .toDF("g", "v")
    val topk = udaf(TopKLong(3))
    val got = df.groupBy($"g").agg(topk($"v").as("t"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
    assert(got === Map("a" -> List(9L, 9L, 5L), "b" -> List(2L)))
  }

  test("q89 domain mix: rates bite, kept sets are deterministic") {
    val rows = Extended3.q89(spark, sf).collect()
    rows.foreach { r =>
      val (rate, n, kept) = (r.getDouble(2), r.getLong(3), r.getLong(4))
      assert(rate > 0.0 && rate <= 1.0)
      assert(kept <= n)
    }
    // the bottleneck source keeps everything (rate 1); at least one
    // other source is downsampled below its doc count
    assert(rows.exists(r => r.getDouble(2) === 1.0))
    // identical rerun ⇒ identical kept counts (engine/run-stable sampling)
    val again = Extended3.q89(spark, sf).collect()
    assert(rows.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("q92 TWA is exact on a hand-computed series") {
    import org.apache.spark.sql.expressions.Window
    // v=2.0 for 10s then v=4.0 for 30s => twa = (2*10 + 4*30)/40 = 3.5
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, t("2024-01-01 10:00:00"), 7L, 2.0),
      (2L, t("2024-01-01 10:00:10"), 7L, 4.0),
      (3L, t("2024-01-01 10:00:40"), 7L, 99.0) // last point: weight 0
    ).toDF("event_id", "ts", "user_id", "value")
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val out = ev.withColumn("next_ts", lead($"ts", 1).over(w))
      .filter($"next_ts".isNotNull)
      .select($"user_id",
        (unix_micros($"next_ts") - unix_micros($"ts")).as("dt_us"),
        $"value".cast("decimal(18,6)").as("v"))
      .groupBy($"user_id")
      .agg((sum($"v" * $"dt_us") / sum($"dt_us")).cast("double").as("twa"))
      .collect()
    assert(out.length === 1 && out.head.getDouble(1) === 3.5)
  }

  test("PII redaction scrubs emails, IPs and phones; order protects email digits") {
    import graft.functions.TextFns
    val out = Seq(
      "mail a.b+c@foo-bar.example.com now",
      "server 192.168.001.1 up",
      "call +48 (22) 123-45-67 today",
      "mixed j9@x.io and 10.0.0.7 and 555 123 4567",
      "clean text, no pii 123"
    ).toDF("t").select(TextFns.redactPii($"t").as("r"))
      .collect().map(_.getString(0))
    assert(out(0) === "mail <EMAIL> now")
    assert(out(1) === "server <IP> up")
    assert(out(2) === "call <PHONE> today")
    assert(out(3) === "mixed <EMAIL> and <IP> and <PHONE>")
    assert(out(4) === "clean text, no pii 123") // short digit run untouched
  }

  test("IncrementalAgg: merge(rollup(A), rollup(B)) == rollup(A ∪ B)") {
    import graft.ext.IncrementalAgg
    val a = Seq(("d1", 2L), ("d1", 4L), ("d2", 10L)).toDF("day", "v")
    val b = Seq(("d1", 1L), ("d3", 7L)).toDF("day", "v")
    val merged = IncrementalAgg.merge(
      IncrementalAgg.rollup(a, Seq("day"), "v"),
      IncrementalAgg.rollup(b, Seq("day"), "v"), Seq("day"))
    val direct = IncrementalAgg.rollup(a.unionByName(b), Seq("day"), "v")
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.orderBy($"day").collect().map(_.toSeq).toSeq
    assert(key(merged) === key(direct))
    // avg derives exactly from merged components
    val avg = IncrementalAgg.withAvg(merged)
      .filter($"day" === "d1").head.getAs[Double]("avg_v")
    assert(avg === (2 + 4 + 1) / 3.0)
    // empty delta is the identity
    val idm = IncrementalAgg.merge(
      IncrementalAgg.rollup(a, Seq("day"), "v"),
      IncrementalAgg.rollup(b.filter($"v" < 0), Seq("day"), "v"), Seq("day"))
    assert(key(idm) === key(IncrementalAgg.rollup(a, Seq("day"), "v")))
  }

  test("AQE re-plans at runtime: shuffle partitions coalesce to data size") {
    // 32 configured shuffle partitions over a tiny agg => AQE coalesces
    // the exchange read; the executed plan carries AQEShuffleRead
    val df = spark.range(0, 1000).groupBy(($"id" % 7).as("k")).count()
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead"), plan)
  }

  test("q87 cartesian is exactly |region| × |nation|") {
    val n = Extended3.q87(spark, sf).count()
    assert(n === 5L * 25L)
  }

  test("q88 sparse cosine is 1.0 for identical docs and bounded in (0,1]") {
    // identical adjacent docs => cosine exactly 1.0 (integer dot = norm²)
    val docs = Seq((1L, "x y z x"), (2L, "x y z x"), (3L, "p q"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("r3_docs")
    val tf = docs
      .select($"doc_id", explode(graft.functions.TextFns.tokens($"text")).as("t"))
      .groupBy($"doc_id", $"t").agg(count(lit(1)).as("tf"))
    val dot = tf.as("a")
      .join(tf.as("b"), col("b.t") === col("a.t") && col("b.doc_id") === col("a.doc_id") + 1)
      .groupBy(col("a.doc_id")).agg(sum(col("a.tf") * col("b.tf")).as("dot"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dot(1L) === 6L) // 2*2 + 1 + 1
    val out = Extended3.q88(spark, sf).collect()
    out.foreach(r => assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0))
  }
}
