package graft

import org.apache.spark.sql.functions._

import graft.cli.Main

/** The CLI surface end-to-end (reference bike_rides_cli load-folder +
  * compute_daily_metrics CLI shapes), driven through Main.run. */
class CliSpec extends SparkSpec {

  private val sampleDir = Fixtures.ridesDir
  private val stationsCsv = Fixtures.stationsCsv

  test("load-folder + metrics-latest + metrics-day through the CLI") {
    val base = tmpDir("cli")
    val store = s"$base/store"
    val interim = s"$base/interim"
    val out = s"$base/2024.json"

    Main.run(spark, List("load-folder", sampleDir, stationsCsv, store, interim))
    assert(spark.read.parquet(store).count() > 40000)
    val interimDirs = new java.io.File(interim).listFiles()
    assert(interimDirs.length === 7, "one interim cleaned CSV per input file")

    Main.run(spark, List("metrics-latest", store, out))
    val (yr, days) = graft.metrics.MetricsJson.readYearFile(out)
    assert(yr === Some(2024) && days.size === 1)

    Main.run(spark, List("metrics-day", store, "2024-06-06", out))
    val (_, days2) = graft.metrics.MetricsJson.readYearFile(out)
    assert(days2.size === 2 && days2.contains("2024-06-06"))

    Main.run(spark, List("metrics-year", store, "2024", out))
    val (_, days3) = graft.metrics.MetricsJson.readYearFile(out)
    assert(days3.size >= 7)
  }

  test("load-checked: clean batch loads; dirty batch fails the gate " +
    "loudly and writes NOTHING to the store") {
    val base = tmpDir("cligate")
    val store = s"$base/store"
    val header = "UID wynajmu,Numer roweru,Data wynajmu,Data zwrotu," +
      "Stacja wynajmu,Stacja zwrotu,Czas trwania"
    def writeCsv(name: String, rows: Seq[String]): String = {
      val p = java.nio.file.Paths.get(base, name)
      java.nio.file.Files.write(p,
        (header +: rows).mkString("\n").getBytes("UTF-8"))
      p.toString
    }
    val clean = writeCsv("clean.csv", Seq(
      "1,600001,2024-06-07 08:00:00,2024-06-07 08:30:00,A,B,30",
      "2,600002,2024-06-07 09:00:00,2024-06-07 09:10:00,B,A,10"))
    // duplicate uid, a negative duration AND a return before rental
    val dirty = writeCsv("dirty.csv", Seq(
      "5,600001,2024-06-08 08:00:00,2024-06-08 08:30:00,A,B,30",
      "5,600002,2024-06-08 09:00:00,2024-06-08 09:10:00,B,A,10",
      "6,600003,2024-06-08 09:00:00,2024-06-08 08:00:00,A,B,-60"))

    Main.run(spark, List("load-checked", clean, stationsCsv, store))
    assert(spark.read.parquet(store).count() === 2L)

    val e = intercept[RuntimeException](
      Main.run(spark, List("load-checked", dirty, stationsCsv, store)))
    assert(e.getMessage.contains("data contract FAILED"))
    assert(e.getMessage.contains("uid_duplicate"))
    assert(e.getMessage.contains("duration_negative"))
    assert(e.getMessage.contains("end_before_start"))
    // the failed batch wrote nothing
    assert(spark.read.parquet(store).count() === 2L)

    // idempotent re-load of the clean batch is a no-op (the K2 gate
    // composes with the contract gate)
    Main.run(spark, List("load-checked", clean, stationsCsv, store))
    assert(spark.read.parquet(store).count() === 2L)
  }

  test("status-once through the CLI") {
    val landing = tmpDir("cliland")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(Fixtures.snapA),
      java.nio.file.Paths.get(landing, "bike_rides_a.json"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(Fixtures.snapB),
      java.nio.file.Paths.get(landing, "bike_rides_b.json"))
    val events = tmpDir("cliev") + "/log"
    Main.run(spark, List("status-once", landing, events))
    assert(spark.read.parquet(events).count() > 0)
  }

  test("backfill fills NULL distances in place and prints how many") {
    import spark.implicits._
    import Fixtures.ride
    import graft.store.{Backfill, RidesTable}
    val store = tmpDir("clibackfill") + "/bike_rides"
    RidesTable.append(spark, Seq(
      ride(1, "2024-06-08", None, Some((51.1, 17.0, 51.105, 17.01))),
      ride(2, "2024-06-08", None),
      ride(3, "2024-06-09", Some(9.999), Some((51.1, 17.0, 51.2, 17.1))),
      ride(4, "2024-06-09", None, Some((51.11, 17.03, 51.08, 16.98))),
      ride(5, "2024-06-10", None, Some((51.1, 17.0, 51.1, 17.0))),
      ride(6, "2024-06-10", None, Some((51.1, 17.0, 51.2, 17.1))).copy(lon_end = None)
    ).toDF(), store)
    def rows() = RidesTable.read(spark, store).orderBy("uid").collect().toSeq
    val before = rows()
    val candidates = Backfill.candidates(RidesTable.read(spark, store)).count()
    assert(candidates === 3L)
    // the haversine fill, to check the geodesic one against
    val sphere = Backfill(RidesTable.read(spark, store), useGeodesic = false)
      .select("uid", "distance").as[(Long, Option[Double])].collect().toMap

    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Main.run(spark, List("backfill", store))
    }
    assert(out.toString.contains(s"backfilled $candidates distances in $store"))

    val after = rows()
    val d = after.head.fieldIndex("distance")
    val filled = Set(1L, 4L, 5L)
    def isFilled(r: org.apache.spark.sql.Row) = filled(r.getAs[Long]("uid"))
    after.filter(isFilled).foreach { r =>
      val want = sphere(r.getAs[Long]("uid")).get
      assert(math.abs(r.getDouble(d) - want) <= 0.005 * want, r)
    }
    // every other row, and every other column, is unchanged
    assert(after.map(_.toSeq.patch(d, Nil, 1)) === before.map(_.toSeq.patch(d, Nil, 1)))
    assert(after.filterNot(isFilled) === before.filterNot(isFilled))
    // still partitioned by ride_date, and the temporary copy is gone
    assert(new java.io.File(store).list().filter(_.startsWith("ride_date=")).sorted.toSeq ===
      Seq("ride_date=2024-06-08", "ride_date=2024-06-09", "ride_date=2024-06-10"))
    assert(!new java.io.File(store + "_backfill_tmp").exists())
  }

  test("unknown command fails loudly") {
    intercept[RuntimeException] {
      Main.run(spark, List("bogus"))
    }
  }

  test("dedup / profile / sessionize subcommands") {
    import spark.implicits._
    val base = tmpDir("cliext")

    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // dup of 1
      (3L, "totally different content here indeed")
    ).toDF("doc_id", "text")
    docs.write.parquet(s"$base/docs")
    Main.run(spark, List("dedup", s"$base/docs", "doc_id", "text",
      s"$base/deduped"))
    val kept = spark.read.parquet(s"$base/deduped")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept === Array(1L, 3L), "dup cluster keeps min id")

    Main.run(spark, List("profile", s"$base/docs", "doc_id,text"))

    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 13:00:00"))
    ).toDF("uid", "ts")
    ev.write.parquet(s"$base/ev")
    Main.run(spark, List("sessionize", s"$base/ev", "uid", "ts", "1800",
      s"$base/sessions"))
    val sess = spark.read.parquet(s"$base/sessions").collect()
    assert(sess.length === 1 && sess.head.getAs[Long]("n_sessions") === 2L)
  }

  test("chunk / mix / pack subcommands") {
    import spark.implicits._
    val base = tmpDir("clitrain")
    val docs = Seq(
      (1L, "web", ("tok " * 50).trim),  // 50 tokens -> 3 chunks @ 32/24
      (2L, "web", "short doc"),
      (3L, "book", ("word " * 30).trim)
    ).toDF("doc_id", "source", "text")
    docs.write.parquet(s"$base/docs")

    Main.run(spark, List("chunk", s"$base/docs", "doc_id", "text",
      "32", "24", s"$base/chunks"))
    val chunks = spark.read.parquet(s"$base/chunks")
    assert(chunks.filter($"doc_id" === 1L).count() === 2,
      "50 toks, starts 1,25 (start <= n - overlap)")
    assert(chunks.filter($"doc_id" === 2L).count() === 1)
    // every token lands in >=1 chunk: max(start+n_tokens-1) covers n
    val last1 = chunks.filter($"doc_id" === 1L)
      .agg(max($"start_token" + $"n_tokens" - 1)).head().getLong(0)
    assert(last1 === 50L)

    Main.run(spark, List("mix", s"$base/docs", "source", "text", "0.5",
      s"$base/mix"))
    val mix = spark.read.parquet(s"$base/mix").collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("weight_ppm"))
      .toMap
    assert(mix("web") === 1000000L, "largest source pins weight 1.0")
    assert(mix("book") > 0L && mix("book") < 1000000L)

    Main.run(spark, List("pack", s"$base/docs", "doc_id", "source", "text",
      "16", s"$base/packed"))
    val packed = spark.read.parquet(s"$base/packed")
    assert(packed.count() === 3)
    // doc 1 (~50 toks) fills batch 0; doc 2 starts at cum 50 div 16 = 3
    val web = packed.filter($"source" === "web").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("batch_id")).toMap
    assert(web(1L) === 0L && web(2L) > 0L)
  }

  test("similarity-join subcommand finds the near-dup pair exactly") {
    import spark.implicits._
    val base = tmpDir("clisim")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"), // near-dup of 1
      (3L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    docs.write.parquet(s"$base/docs")
    Main.run(spark, List("similarity-join", s"$base/docs", "doc_id", "text",
      "1/2", s"$base/pairs"))
    val pairs = spark.read.parquet(s"$base/pairs")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L)))
  }

  test("triangles / kcore subcommands over an edge parquet") {
    import spark.implicits._
    val base = tmpDir("cligraph")
    // K4 (4 triangles, every node degree 3) + a degree-1 tail node
    val edges = (for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)) :+
      (3L, 9L)
    edges.toDF("a", "b").write.parquet(s"$base/edges")

    val outTri = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outTri)) {
      Main.run(spark, List("triangles", s"$base/edges", "a", "b"))
    }
    assert(outTri.toString.trim === "4 triangles")

    val outCore = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outCore)) {
      Main.run(spark, List("kcore", s"$base/edges", "a", "b", "3",
        s"$base/core"))
    }
    assert(outCore.toString.contains("k=3 core has 4 nodes"))
    val core = spark.read.parquet(s"$base/core")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L),
      "the tail node peels off; K4 survives at k=3")

    // pagerank over the symmetrized star inside the same edge set:
    // node 3 (in K4 + the tail link) must outrank the tail node 9
    val sym = edges ++ edges.map(_.swap)
    sym.toDF("a", "b").write.parquet(s"$base/sym")
    val outPr = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outPr)) {
      Main.run(spark, List("pagerank", s"$base/sym", "a", "b", "10",
        s"$base/ranks"))
    }
    assert(outPr.toString.contains("ranked 5 nodes"))
    val ranks = spark.read.parquet(s"$base/ranks")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ranks(3L) > ranks(9L))
  }

  test("quantiles subcommand prints the sketch profile") {
    import spark.implicits._
    val base = tmpDir("cliquant")
    (1L to 1000L).map(Tuple1(_)).toDF("v").write.parquet(s"$base/vals")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Main.run(spark, List("quantiles", s"$base/vals", "v", "1",
        "500,900"))
    }
    val printed = out.toString
    assert(printed.contains("q_permille") && printed.contains("est"))
    assert(printed.contains("500") && printed.contains("900"))
  }

  test("dup-spans / weighted-sample / semantic-dedup subcommands") {
    import spark.implicits._
    val base = tmpDir("clicur")

    // two docs sharing the 3-gram run "a b c d" -> one span of 4 tokens each
    Seq((1L, "a b c d x", "s0"), (2L, "z a b c d", "s0"),
        (3L, "p q r s t", "s1"))
      .toDF("doc_id", "text", "source").write.parquet(s"$base/docs")
    val outSpan = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outSpan)) {
      Main.run(spark, List("dup-spans", s"$base/docs", "doc_id", "text",
        "3", "2", s"$base/spans"))
    }
    assert(outSpan.toString.contains("wrote 2 duplicated spans"))
    val spans = spark.read.parquet(s"$base/spans")
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(3))).toSet
    assert(spans === Set((1L, 1, 4), (2L, 2, 5)))

    // weighted sample: weight column drives a deterministic 2-per-source draw
    Seq((1L, "s0", 3L), (2L, "s0", 1L), (3L, "s0", 2L), (4L, "s1", 4L))
      .toDF("doc_id", "source", "w").write.parquet(s"$base/weighted")
    val outWs = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outWs)) {
      Main.run(spark, List("weighted-sample", s"$base/weighted", "doc_id",
        "source", "w", "2", s"$base/sample"))
    }
    assert(outWs.toString.contains("sampled 3 rows"),
      "2 of 3 docs from s0 + the single s1 doc")

    // semantic dedup: two exact clones + one opposite-sign vector
    val v = Seq(0.5f, 0.5f, 0.5f, 0.5f)
    Seq((1L, v), (2L, v), (3L, v.map(-_)))
      .toDF("vec_id", "embedding")
      .withColumn("embedding",
        org.apache.spark.sql.functions.col("embedding").cast("array<float>"))
      .write.parquet(s"$base/emb")
    val outSd = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outSd)) {
      Main.run(spark, List("semantic-dedup", s"$base/emb", "vec_id",
        "embedding", "9999", "4", s"$base/sem"))
    }
    assert(outSd.toString.contains("kept 2 of 3"))
  }

  test("lpa / jl-project subcommands") {
    import spark.implicits._
    val base = tmpDir("clilpa")

    // two triangles joined by a bridge -> two communities
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L),
        (3L, 4L))
      .toDF("a", "b").write.parquet(s"$base/edges")
    val outLpa = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outLpa)) {
      Main.run(spark, List("lpa", s"$base/edges", "a", "b", "5",
        s"$base/comm"))
    }
    assert(outLpa.toString.contains("2 communities over 6 nodes"))

    Seq((1L, Seq(0.5f, -0.5f, 0.25f, 1.0f)),
        (2L, Seq(-1.0f, 0.0f, 0.3f, -0.7f)))
      .toDF("vec_id", "embedding")
      .withColumn("embedding",
        org.apache.spark.sql.functions.col("embedding").cast("array<float>"))
      .write.parquet(s"$base/emb")
    val outJl = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outJl)) {
      Main.run(spark, List("jl-project", s"$base/emb", "embedding", "2",
        "cli", s"$base/proj"))
    }
    assert(outJl.toString.contains("projected 2 vectors 4 -> 2 dims"))
    val proj = spark.read.parquet(s"$base/proj")
    assert(proj.select("proj").head().getSeq[Long](0).length === 2)

    // rake to uniform marginals over a skewed full-support 2x2 corpus
    Seq(("en", "web"), ("en", "web"), ("en", "code"), ("de", "web"),
        ("de", "code"), ("de", "code"), ("de", "code"))
      .toDF("lang", "source").write.parquet(s"$base/mix")
    val outRk = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outRk)) {
      Main.run(spark, List("rake", s"$base/mix", "lang,source", "4",
        s"$base/cells"))
    }
    assert(outRk.toString.contains("raked 4 cells over langxsource"))
    val cells = spark.read.parquet(s"$base/cells")
    val langMarg = cells.groupBy("lang")
      .agg(org.apache.spark.sql.functions.sum("w_ppm").as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(langMarg("en") - 500000L) <= 20000 &&
      math.abs(langMarg("de") - 500000L) <= 20000,
      s"uniform lang marginals, got $langMarg")
  }

  test("bpe subcommand learns the dominant pair first") {
    import spark.implicits._
    val base = tmpDir("clibpe")
    Seq((1L, "the theme the thesis"), (2L, "the other theme"),
        (3L, "breathe the theme"))
      .toDF("doc_id", "text").write.parquet(s"$base/docs")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Main.run(spark, List("bpe", s"$base/docs", "text", "2",
        s"$base/merges"))
    }
    // 'h e' and 't h' tie at 10 occurrences — pair-asc break picks
    // 'h e'; round 2 then merges 't he' into the full 'the'
    assert(out.toString.contains("round 1: 'h e' -> 'he' (10 pairs"),
      s"unexpected output: $out")
    assert(out.toString.contains("round 2: 't he' -> 'the' (10 pairs"),
      s"unexpected output: $out")
    val merges = spark.read.parquet(s"$base/merges")
    assert(merges.count() === 2L)

    // encode the same corpus with the learned merges: every 'the'
    // collapses to the single symbol learned by rounds 1+2
    val outEnc = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outEnc)) {
      Main.run(spark, List("bpe-encode", s"$base/docs", "text",
        s"$base/merges", s"$base/enc"))
    }
    assert(outEnc.toString.contains("with 2 merges"),
      s"unexpected output: $outEnc")
    val enc = spark.read.parquet(s"$base/enc")
    assert(enc.filter($"word" === "the").head().getAs[String]("sym")
      === "the")
    assert(enc.filter($"word" === "theme").head().getAs[String]("sym")
      === "the m e")
  }

  test("text-profile subcommand: uniform corpus hits entropy ln(V)") {
    import spark.implicits._
    val base = tmpDir("clitp")
    // 4 tokens, each exactly 4 times — H = ln 4, TTR = 4/16
    Seq((1L, "a", "w x y z w x y z"), (2L, "a", "w x y z w x y z"))
      .toDF("doc_id", "src", "text").write.parquet(s"$base/docs")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Main.run(spark, List("text-profile", s"$base/docs", "text", "src",
        s"$base/prof"))
    }
    assert(out.toString.contains(
      "profiled 1 groups; corpus: 16 tokens, 4 types, ttr 250000 ppm"),
      s"unexpected output: $out")
    val all = spark.read.parquet(s"$base/prof")
      .filter($"grp" === "__all__").head()
    // ln 4 = 1.386294...; integer floors land within 1 µnat below
    val h = all.getAs[Long]("entropy_micro_nat")
    assert(h >= 1386293L && h <= 1386295L, s"entropy $h")
  }

  test("search / score-lm / bloom-prune / ppr / rrf subcommands") {
    import spark.implicits._
    val base = tmpDir("clir10")

    // search: "data" appears only in doc 1 — it must top the list
    Seq((1L, "big data rules"), (2L, "cats and dogs"), (3L, "more cats"))
      .toDF("doc_id", "text").write.parquet(s"$base/docs")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Main.run(spark, List("search", s"$base/docs", "doc_id", "text",
        "data,cats", "2"))
    }
    val lines = out.toString.trim.split("\n")
    assert(lines.length === 2 && lines.forall(_.contains("nano")),
      s"unexpected search output: $out")

    // score-lm: train on fluent docs, a scrambled doc must score worse
    Seq((1L, "the cat sat on the mat"), (2L, "the dog sat on the mat"))
      .toDF("doc_id", "text").write.parquet(s"$base/train")
    Seq((10L, "the cat sat on the mat"), (11L, "mat the on sat cat the"))
      .toDF("doc_id", "text").write.parquet(s"$base/score")
    Main.run(spark, List("score-lm", s"$base/train", s"$base/score",
      "doc_id", "text", s"$base/scored"))
    val scored = spark.read.parquet(s"$base/scored")
      .select($"doc_id", $"nll_avg_micro").as[(Long, Long)].collect().toMap
    assert(scored(10L) < scored(11L),
      s"fluent doc must out-score scrambled: $scored")

    // bloom-prune: fact keys 0..99, dim = multiples of 5
    (0L until 100L).toDF("fk").write.parquet(s"$base/fact")
    (0L until 100L by 5L).toDF("dk").write.parquet(s"$base/dim")
    Main.run(spark, List("bloom-prune", s"$base/fact", "fk",
      s"$base/dim", "dk", "1024", s"$base/kept"))
    val kept = spark.read.parquet(s"$base/kept").as[Long].collect().toSet
    assert(kept === (0L until 100L).filter(_ % 5 != 0).toSet)

    // ppr: star around node 0 — seeds {0}; center must outrank leaves
    val half = (1L to 4L).map(l => (0L, l))
    (half ++ half.map(_.swap)).toDF("s", "d").write.parquet(s"$base/edges")
    Seq(0L).toDF("n").write.parquet(s"$base/seeds")
    Main.run(spark, List("ppr", s"$base/edges", "s", "d",
      s"$base/seeds", "n", "5", s"$base/ranks"))
    val ranks = spark.read.parquet(s"$base/ranks")
      .select($"node", $"r").as[(Long, Long)].collect().toMap
    assert((1L to 4L).forall(l => ranks(0L) > ranks(l)), s"ranks $ranks")

    // rrf: id 7 present in both lists must out-fuse single-list ids
    Seq((7L, 5L), (1L, 9L)).toDF("id", "score").write.parquet(s"$base/la")
    Seq((7L, 3L), (2L, 8L)).toDF("id", "score").write.parquet(s"$base/lb")
    Main.run(spark, List("rrf", s"$base/la", s"$base/lb", "id", "score",
      "3", s"$base/fused"))
    val fused = spark.read.parquet(s"$base/fused")
      .orderBy($"rrf_nano".desc).select($"id").as[Long].collect()
    assert(fused.head === 7L, s"doubly-ranked id must fuse first: ${fused.toSeq}")

    // pq-encode: two tight clusters ⇒ same-cluster vectors share codes
    val emb = (0L until 8L).map { i =>
      i -> Array.tabulate(4)(t => (i % 2) * 10f + t * 0.1f)
    }.toDF("vec_id", "embedding")
    emb.write.parquet(s"$base/emb")
    Main.run(spark, List("pq-encode", s"$base/emb", "vec_id", "embedding",
      "2", "2", "2", s"$base/codes"))
    val byCluster = spark.read.parquet(s"$base/codes")
      .as[(Long, Seq[Int])].collect().groupBy(_._1 % 2)
      .map { case (cl, xs) => cl -> xs.map(_._2).distinct }
    assert(byCluster.values.forall(_.size === 1),
      s"same-cluster vectors must share a code: $byCluster")
    assert(byCluster(0L) !== byCluster(1L), "clusters must differ")

    // mmr: two redundant high-rel ids + one dissimilar — top-2 must mix
    // λ = 7/10: id2 scores 7·99 − 3·98 = 399, id9 scores 7·95 − 3·2 =
    // 659 in round 2 — the near-duplicate loses to the dissimilar
    Seq((1L, 100L), (2L, 99L), (9L, 95L)).toDF("id", "rel")
      .write.parquet(s"$base/mcand")
    Seq((1L, 2L, 98L), (1L, 9L, 2L), (2L, 9L, 3L)).toDF("a", "b", "sim")
      .write.parquet(s"$base/msims")
    Main.run(spark, List("mmr", s"$base/mcand", s"$base/msims",
      "id", "rel", "2", s"$base/msel"))
    val sel = spark.read.parquet(s"$base/msel")
      .orderBy($"rank").select($"id").as[Long].collect().toSeq
    assert(sel === Seq(1L, 9L), s"MMR must skip the redundant 2: $sel")

    // semantic-dedup with explicit bands arity: 3 DIRECTIONALLY
    // distinct clone clusters (cosine ignores magnitude, so scaled
    // copies of one direction would merge)
    val clones = (0L until 6L).map { i =>
      i -> Array.tabulate(8) { t =>
        (i % 3) match {
          case 0 => if (t % 2 == 0) 1f else 0.01f
          case 1 => if (t % 2 == 1) 1f else 0.01f
          case _ => if (t < 4) 1f else -1f
        }
      }
    }.toDF("vec_id", "embedding")
    clones.write.parquet(s"$base/sememb")
    Main.run(spark, List("semantic-dedup", s"$base/sememb", "vec_id",
      "embedding", "9900", "2", "2", s"$base/semout"))
    val keptN = spark.read.parquet(s"$base/semout")
      .filter($"keep").count()
    assert(keptN === 3L, s"3 clusters of clones must keep 3 reps, got $keptN")
  }

  test("split / datasheet / textrank subcommands") {
    import spark.implicits._
    val base = tmpDir("clids")
    val docs = (0L until 40L).map { i =>
      (i, if (i % 2 == 0) "alpha beta gamma" else "beta delta",
        if (i < 30) "en" else "de", s"src${i % 2}")
    }.toDF("doc_id", "text", "lang", "source")
    docs.write.parquet(s"$base/docs")

    Main.run(spark, List("split", s"$base/docs", "source", "doc_id",
      "100000", "200000", s"$base/split"))
    val bySplit = spark.read.parquet(s"$base/split")
      .groupBy($"source", $"split").count()
      .as[(String, String, Long)].collect()
      .map { case (s, sp, n) => (s, sp) -> n }.toMap
    // 20 docs per source: exactly 2 val, 4 test, 14 train each
    Seq("src0", "src1").foreach { s =>
      assert(bySplit((s, "val")) === 2L, s)
      assert(bySplit((s, "test")) === 4L, s)
      assert(bySplit((s, "train")) === 14L, s)
    }

    Main.run(spark, List("datasheet", s"$base/docs", "source", "text",
      "lang"))
    Main.run(spark, List("textrank", s"$base/docs", "text", "3", "5"))
  }

  test("blocklist / reshard / source-overlap / semdedup-kmeans subcommands") {
    import spark.implicits._
    val base = tmpDir("clibl")
    val docs = (0L until 40L).map { i =>
      (i, if (i % 2 == 0) "alpha beta gamma" else "beta delta", s"src${i % 2}")
    }.toDF("doc_id", "text", "source")
    docs.write.parquet(s"$base/docs")

    // "beta gamma" only occurs in even docs; "nope" matches nothing
    Main.run(spark, List("blocklist", s"$base/docs", "doc_id", "text",
      "beta gamma,nope", s"$base/flagged"))
    val flagged = spark.read.parquet(s"$base/flagged")
    assert(flagged.count() === 20L)
    assert(flagged.select(explode($"matched")).distinct()
      .as[String].collect().toSeq === Seq("beta gamma"))

    Main.run(spark, List("reshard", s"$base/docs", "doc_id", "4",
      s"$base/shards"))
    val sharded = spark.read.parquet(s"$base/shards")
    assert(sharded.count() === 40L)
    assert(sharded.select($"shard").distinct().as[Int].collect()
      .forall(s => s >= 0 && s < 4))

    Main.run(spark, List("source-overlap", s"$base/docs", "source",
      "text", "8"))

    val emb = (0L until 12L).map { i =>
      // two tight clusters: ids 0-5 near (1,0), 6-11 near (0,1)
      val v = if (i < 6) Seq(1.0f, 0.001f * i) else Seq(0.001f * i, 1.0f)
      (i, v)
    }.toDF("vec_id", "embedding")
    emb.write.parquet(s"$base/emb")
    Main.run(spark, List("semdedup-kmeans", s"$base/emb", "vec_id",
      "embedding", "2", "2", "9900", s"$base/dedup"))
    val flags = spark.read.parquet(s"$base/dedup")
    assert(flags.count() === 12L)
    // near-identical cluster-mates dedup to one keeper per cell
    assert(flags.filter($"keep").count() <= 4L)
    assert(flags.filter($"keep").count() >= 2L)
  }

  test("eval-report / drift-report subcommands") {
    import spark.implicits._
    val base = tmpDir("clieval")
    // separable labeled clusters → the centroid classifier is perfect
    val emb = (0L until 20L).map { i =>
      val lab = if (i < 10) 0 else 1
      val v = if (lab == 0) Seq(1.0f, 0.01f * i) else Seq(0.01f * i, 1.0f)
      (i, v, lab)
    }.toDF("vec_id", "embedding", "label")
    emb.write.parquet(s"$base/emb")
    Main.run(spark, List("eval-report", s"$base/emb", "embedding",
      "label", s"$base/eval"))
    assert(spark.read.parquet(s"$base/eval/kappa").head()
      .getAs[Long]("kappa_ppm") === 1000000L)
    assert(spark.read.parquet(s"$base/eval/mcc").head()
      .getAs[Long]("mcc_ppm") === 1000000L)
    assert(spark.read.parquet(s"$base/eval/confusion").count() === 2L)
    assert(spark.read.parquet(s"$base/eval/prf1").count() === 3L)
    val cal = spark.read.parquet(s"$base/eval/calibration")
    assert(cal.filter($"bin" === -1L).head().getAs[Long]("acc_ppm")
      === 1000000L)

    // one group owns the low half of the value range → max drift
    val rows = (0L until 80L).map { i =>
      (i, if (i < 40) "low" else s"g${i % 2}", i)
    }.toDF("id", "grp", "v")
    rows.write.parquet(s"$base/rows")
    Main.run(spark, List("drift-report", s"$base/rows", "grp", "v",
      "id", "4", s"$base/drift"))
    val jsd = spark.read.parquet(s"$base/drift").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("jsd_nano")).toMap
    assert(jsd.keySet === Set("low", "g0", "g1"))
    // "low" occupies bins nobody else touches → exactly ln 2; g0/g1
    // are identically distributed (each drifts vs a rest that is 2/3
    // "low", so their jsd is nonzero but below the disjoint bound,
    // and by construction EQUAL to each other)
    assert(jsd("low") === 2L * 346573590L)
    assert(jsd("g0") === jsd("g1"))
    assert(jsd("g0") > 0L && jsd("g0") < jsd("low"))

    // abtt on a rank-1 corpus: correction flattens the vectors
    val r1 = (0L until 32L).map { i =>
      val t = (i % 8).toDouble - 3.5
      (i, Seq((1.0 + t).toFloat, (2.0 - 0.5 * t).toFloat, 3.0f))
    }.toDF("vec_id", "embedding")
    r1.write.parquet(s"$base/r1")
    Main.run(spark, List("abtt", s"$base/r1", "embedding", "5",
      s"$base/abtt"))
    val corrected = spark.read.parquet(s"$base/abtt")
    assert(corrected.count() === 32L)
    // residual vectors are ~constant (all variance was along PC1)
    val distinctRounded = corrected
      .select(transform($"embedding_abtt",
        x => round(x.cast("double"), 3)).as("r"))
      .distinct().count()
    assert(distinctRounded === 1L,
      s"rank-1 corpus should flatten to one residual, got $distinctRounded")
  }
}
