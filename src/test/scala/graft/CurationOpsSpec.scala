package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ext.{TextDedup, TrainPrep, VectorIndex}

/** Round-9 curation operator contracts, proven against in-memory brute
  * force on random data (the PropertySpec fixed-seed technique):
  *
  *  - [[TextDedup.dupSpans]] == brute-force gram counting + island
  *    merge, including within-doc self-repetition and the exact
  *    gap-vs-merge boundary;
  *  - [[TrainPrep.weightedSample]] == brute-force md5 max-key draw
  *    (the A-ES integer-weight identity), and the selection is
  *    deterministic across runs;
  *  - [[VectorIndex.semanticDedup]] == brute-force bucket + cosine +
  *    union-find clustering with keep-min-id.
  */
class CurationOpsSpec extends SparkSpec {

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(1409L + i)))

  // ------------------------------------------------------------------
  // dupSpans

  /** Brute force: maximal islands of start positions of k-grams with
    * corpus-wide occurrence >= minCount. */
  private def bruteSpans(docs: Seq[(Long, String)], k: Int, minCount: Int)
      : Set[(Long, Long, Int, Int, Int)] = {
    val toks = docs.map { case (id, t) =>
      id -> t.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    }
    val grams = toks.flatMap { case (id, ts) =>
      if (ts.length < k) Seq.empty
      else (0 to ts.length - k).map(i => (id, i + 1, ts.slice(i, i + k).mkString(" ")))
    }
    val counts = grams.groupBy(_._3).view.mapValues(_.size).toMap
    grams.filter(g => counts(g._3) >= minCount)
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toSeq
      .flatMap { case (id, positions) =>
        val islands = positions.foldLeft(List.empty[List[Int]]) {
          case (acc, p) => acc match {
            case (h :: t) :: rest if p - h <= k => (p :: h :: t) :: rest
            case _ => List(p) :: acc
          }
        }.reverse.map(_.reverse)
        islands.zipWithIndex.map { case (isl, i) =>
          val s = isl.head
          val e = isl.last + k - 1
          (id, (i + 1).toLong, s, e, e - s + 1)
        }
      }.toSet
  }

  private val corpusGen: Gen[Seq[(Long, String)]] = {
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    for {
      n <- Gen.chooseNum(4, 10)
      docs <- Gen.listOfN(n, for {
        len <- Gen.chooseNum(0, 14)
        ws <- Gen.listOfN(len, Gen.oneOf(vocab))
      } yield ws.mkString(" "))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  test("dupSpans == brute force on random small-vocab corpora") {
    val s = spark
    import s.implicits._
    samples(corpusGen, 12).foreach { corpus =>
      val df = corpus.toDF("doc_id", "text")
      val got = TextDedup.dupSpans(df, "text", "doc_id", k = 3, minCount = 2L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
          r.getInt(4)))
        .toSet
      assert(got === bruteSpans(corpus, k = 3, minCount = 2))
    }
  }

  test("dupSpans: within-doc self-repetition counts toward minCount") {
    val s = spark
    import s.implicits._
    // the 3-gram "a b c" occurs twice INSIDE one doc, nowhere else
    val df = Seq((1L, "a b c x x a b c"), (2L, "q r s t u")).toDF("doc_id", "text")
    val got = TextDedup.dupSpans(df, "text", "doc_id", k = 3, minCount = 2L)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(3))).toSet
    assert(got === Set((1L, 1, 3), (1L, 6, 8)))
  }

  test("dupSpans merges starts exactly k apart and splits at k+1") {
    val s = spark
    import s.implicits._
    // doc 1: dup grams start at 1 and 4 (gap == k=3 -> ONE span 1..6);
    // doc 3: same grams with one extra token between (gap 4 -> TWO spans)
    val df = Seq(
      (1L, "a b c d e f"), (2L, "a b c z z d e f"),
      (3L, "a b c x d e f"), (4L, "x x x x x x x x")).toDF("doc_id", "text")
    val spans = TextDedup.dupSpans(df, "text", "doc_id", k = 3, minCount = 2L)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(3), r.getInt(4)))
    val d1 = spans.filter(_._1 == 1L).map(t => (t._2, t._3, t._4)).toSet
    val d3 = spans.filter(_._1 == 3L).map(t => (t._2, t._3, t._4)).toSet
    assert(d1 === Set((1, 6, 6)))
    assert(d3 === Set((1, 3, 3), (5, 7, 3)))
  }

  test("dupSpans: docs shorter than k never emit") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    assert(TextDedup.dupSpans(df, "text", "doc_id", k = 3, minCount = 2L)
      .count() === 0L)
  }

  // ------------------------------------------------------------------
  // weightedSample

  private def md5Hex8(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.take(4).foldLeft(0L)((acc, b) => acc * 256 + (b & 0xff))
  }

  private def bruteWeighted(rows: Seq[(Long, String, Long)], k: Int)
      : Set[(String, Long, Long, Long, Long)] =
    rows.filter(_._3 >= 1)
      .map { case (id, grp, w) =>
        val key = (1L to w).map(j => md5Hex8(s"$id#$j")).max
        (grp, id, w, key)
      }
      .groupBy(_._1).toSeq.flatMap { case (grp, members) =>
        members.sortBy(m => (-m._4, m._2)).take(k).zipWithIndex
          .map { case ((g, id, w, key), i) => (g, (i + 1).toLong, id, w, key) }
      }.toSet

  private val weightedGen: Gen[Seq[(Long, String, Long)]] = for {
    n <- Gen.chooseNum(5, 40)
    rows <- Gen.listOfN(n, for {
      grp <- Gen.oneOf("g0", "g1", "g2")
      w <- Gen.chooseNum(0L, 4L)
    } yield (grp, w))
  } yield rows.zipWithIndex.map { case ((g, w), i) => (i.toLong, g, w) }

  test("weightedSample == brute-force md5 max-key draw") {
    val s = spark
    import s.implicits._
    samples(weightedGen, 12).foreach { rows =>
      val df = rows.toDF("doc_id", "source", "w")
      val got = TrainPrep.weightedSample(df, "doc_id", "source", "w", k = 3)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
        .toSet
      assert(got === bruteWeighted(rows, k = 3))
    }
  }

  test("weightedSample: weight-0 rows are never sampled; k bounds groups") {
    val s = spark
    import s.implicits._
    val df = (1L to 20L).map(i => (i, "g", if (i % 2 == 0) 0L else 2L))
      .toDF("doc_id", "source", "w")
    val got = TrainPrep.weightedSample(df, "doc_id", "source", "w", k = 4)
      .collect()
    assert(got.length === 4)
    assert(got.forall(_.getLong(2) % 2 == 1))
  }

  // ------------------------------------------------------------------
  // semanticDedup

  private def bruteSemantic(vecs: Seq[(Long, Array[Float])], tauBp: Int,
      bits: Int): Set[(Long, Long, Boolean)] = {
    def bucket(v: Array[Float]): Long =
      (0 until bits).map(i => if (v(i) >= 0) 1L << i else 0L).sum
    def cos(a: Array[Float], b: Array[Float]): Double = {
      // mirror VectorFns: sequential double accumulation, cos = d/(na*nb)
      def dot(x: Array[Float], y: Array[Float]): Double =
        x.zip(y).foldLeft(0.0)((acc, p) => acc + p._1.toDouble * p._2.toDouble)
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val parent = scala.collection.mutable.Map(vecs.map(v => v._1 -> v._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    for {
      (ia, va) <- vecs; (ib, vb) <- vecs
      if ia < ib && bucket(va) == bucket(vb)
      if math.floor(cos(va, vb) * 10000 + 0.5) >= tauBp
    } union(ia, ib)
    vecs.map { case (id, _) =>
      val c = find(id)
      (id, c, id == c)
    }.toSet
  }

  private val vecGen: Gen[Seq[(Long, Array[Float])]] = for {
    n <- Gen.chooseNum(6, 24)
    base <- Gen.listOfN(n, Gen.listOfN(8,
      Gen.chooseNum(-100, 100).map(_ / 100.0f)))
    // clone a few vectors with a tiny perturbation so near-dup pairs exist
    clones <- Gen.chooseNum(1, 4)
  } yield {
    val vs = base.map(_.toArray)
    val cloned = (0 until math.min(clones, vs.length)).map { i =>
      vs(i).zipWithIndex.map { case (x, j) =>
        if (j == 7) x + 0.01f else x }
    }
    (vs ++ cloned).zipWithIndex.map { case (v, i) => (i.toLong, v) }
  }

  test("semanticDedup == brute-force bucket+cosine+union-find") {
    val s = spark
    import s.implicits._
    samples(vecGen, 10).foreach { vecs =>
      val df = vecs.map { case (id, v) => (id, v.toSeq) }
        .toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
      val got = VectorIndex
        .semanticDedup(df, "embedding", "vec_id", tauBp = 9000, bits = 4)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
      assert(got === bruteSemantic(vecs, tauBp = 9000, bits = 4))
    }
  }

  test("semanticDedup bucketCap: oversized buckets contribute no pairs") {
    val s = spark
    import s.implicits._
    // 5 clones in one bucket (all-positive signs), 2 clones in another
    val big = Seq(0.5f, 0.5f, 0.5f, 0.5f)
    val small = Seq(-0.5f, 0.5f, 0.5f, 0.5f)
    val df = ((0L to 4L).map(i => (i, big)) ++ Seq((10L, small), (11L, small)))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val capped = VectorIndex.semanticDedup(df, "embedding", "vec_id",
        tauBp = 9999, bits = 4, bucketCap = Some(4L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // the 5-member bucket exceeds cap=4: its members stay singletons
    // (still present, each its own kept component); the 2-member bucket
    // still dedups
    assert(capped === (0L to 4L).map(i => (i, i, true)).toSet ++
      Set((10L, 10L, true), (11L, 10L, false)))
    // default (no cap) is unchanged exact behavior
    val uncapped = VectorIndex.semanticDedup(df, "embedding", "vec_id",
        tauBp = 9999, bits = 4)
      .collect().filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    assert(uncapped === Set(0L, 10L))
  }

  test("semanticDedup keeps exactly one representative per component") {
    val s = spark
    import s.implicits._
    // three exact clones + one distinct vector
    val v = Seq(0.5f, -0.25f, 0.75f, 0.1f, 0.2f, 0.3f, 0.4f, 0.5f)
    val other = Seq(-0.5f, 0.25f, -0.75f, -0.1f, 0.2f, 0.3f, 0.4f, 0.5f)
    val df = Seq((10L, v), (11L, v), (12L, v), (13L, other))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val rows = VectorIndex
      .semanticDedup(df, "embedding", "vec_id", tauBp = 9999, bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    assert(rows.toSeq === Seq((10L, 10L, true), (11L, 10L, false),
      (12L, 10L, false), (13L, 13L, true)))
  }

  /** Reference integer IPF: same ppm floor arithmetic as
    * TrainPrep.rake, dims rescaled in order each round. */
  private def bruteRake(rows: Seq[(String, String)],
      langTgt: Map[String, Long], srcTgt: Map[String, Long],
      rounds: Int): Map[(String, String), Long] = {
    val n = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val total = rows.size.toLong
    var w = n.map { case (c, cnt) => c -> cnt * 1000000L / total }
    (1 to rounds).foreach { _ =>
      Seq(true, false).foreach { isLang =>
        val marg = w.groupBy { case ((l, s), _) => if (isLang) l else s }
          .view.mapValues(_.values.sum).toMap
        w = w.map { case (cell @ (l, s), wv) =>
          val key = if (isLang) l else s
          val t = (if (isLang) langTgt else srcTgt).getOrElse(key, 0L)
          val m = marg(key)
          cell -> (if (m > 0 && t > 0) wv * t / m else 0L)
        }
      }
    }
    w
  }

  test("rake == brute-force integer IPF; marginals land on target") {
    import spark.implicits._
    // full 3x3 support (every cell populated) — IPF converges
    // geometrically fast; sparse-support fixtures (a lang seen in one
    // source only) couple the marginals and converge slowly, which
    // tests feasibility, not the operator
    val rows = Seq(
      ("en", "web"), ("en", "web"), ("en", "web"), ("en", "code"),
      ("en", "books"), ("de", "web"), ("de", "code"), ("de", "code"),
      ("de", "books"), ("fr", "web"), ("fr", "code"), ("fr", "books"),
      ("fr", "books"))
    val langTgt = Map("en" -> 500000L, "de" -> 300000L, "fr" -> 200000L)
    val srcTgt = Map("web" -> 400000L, "code" -> 400000L,
      "books" -> 200000L)
    val df = rows.toDF("lang", "source")
    val got = graft.ext.TrainPrep.rake(df, Seq("lang", "source"),
        Seq(langTgt.toSeq.toDF("lang", "t"), srcTgt.toSeq.toDF("source", "t")),
        rounds = 4)
      .collect().map(r => ((r.getAs[String]("lang"),
        r.getAs[String]("source")), r.getAs[Long]("w_ppm"))).toMap
    assert(got === bruteRake(rows, langTgt, srcTgt, 4))
    // after 4 rounds the last-rescaled dim is EXACT (up to floor) and
    // the first dim is within a small integer gap
    val srcMarg = got.groupBy(_._1._2).view.mapValues(_.values.sum)
    srcTgt.foreach { case (sv, t) =>
      assert(math.abs(srcMarg(sv) - t) <= rows.size,
        s"source $sv marginal ${srcMarg(sv)} vs target $t")
    }
    val langMarg = got.groupBy(_._1._1).view.mapValues(_.values.sum)
    langTgt.foreach { case (lv, t) =>
      assert(math.abs(langMarg(lv) - t) <= 5000,
        s"lang $lv marginal ${langMarg(lv)} vs target $t after 4 rounds")
    }
  }

  test("rake: values absent from a target frame annihilate their cells") {
    import spark.implicits._
    val df = Seq(("en", "web"), ("xx", "web"), ("en", "code"))
      .toDF("lang", "source")
    val got = graft.ext.TrainPrep.rake(df, Seq("lang", "source"),
        Seq(Seq(("en", 1000000L)).toDF("lang", "t"),
          Seq(("web", 500000L), ("code", 500000L)).toDF("source", "t")),
        rounds = 2)
      .collect().map(r => ((r.getAs[String]("lang"),
        r.getAs[String]("source")), r.getAs[Long]("w_ppm"))).toMap
    assert(got(("xx", "web")) === 0L, "untargeted lang zeroed")
    assert(got(("en", "web")) > 0L && got(("en", "code")) > 0L)
  }

  test("rake: checkpointDir path == localCheckpoint path") {
    import spark.implicits._
    val df = Seq(("en", "a"), ("en", "b"), ("de", "a"), ("de", "b"),
      ("de", "a")).toDF("lang", "source")
    val tgts = Seq(
      Seq(("en", 600000L), ("de", 400000L)).toDF("lang", "t"),
      Seq(("a", 500000L), ("b", 500000L)).toDF("source", "t"))
    val (local, ckpt, _) = localAndReliable(
      graft.ext.TrainPrep.rake(df, Seq("lang", "source"), tgts, 3)
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getAs[Long]("w_ppm"))).sortBy(c => (c._1, c._2)).toSeq)
    assert(local === ckpt)
  }

  /** Brute-force BPE with the operator's exact semantics: pair counts
    * weighted by word frequency, argmax by (count DESC, pair ASC),
    * merge applied with Java's leftmost non-overlapping
    * `String.replace` (the same contract Spark's and DuckDB's
    * `replace` follow). */
  private def bruteBpe(words: Seq[(String, Long)], rounds: Int)
      : (Seq[(Long, String, String, Long, Long, Long)],
         Seq[(String, Long)]) = {
    var syms = words.map { case (w, c) => (w.toCharArray.mkString(" "), c) }
    val merges = (1 to rounds).map { r =>
      val pc = scala.collection.mutable.Map.empty[String, Long]
      syms.foreach { case (sym, c) =>
        val a = sym.split(" ")
        if (a.length >= 2) a.sliding(2).foreach { p =>
          val k = p.mkString(" "); pc(k) = pc.getOrElse(k, 0L) + c
        }
      }
      val (pair, cnt) = pc.toSeq.minBy { case (p, c) => (-c, p) }
      val merged = pair.replace(" ", "")
      syms = syms.map { case (sym, c) =>
        ((" " + sym + " ").replace(" " + pair + " ", " " + merged + " ")
          .trim, c)
      }
      val vocab = syms.flatMap(_._1.split(" ")).distinct.size.toLong
      val toks = syms.map { case (sym, c) => c * sym.split(" ").length }.sum
      (r.toLong, pair, merged, cnt, vocab, toks)
    }
    (merges, syms)
  }

  test("bpeMerges == brute-force BPE; merges, stats, encoding all match") {
    import spark.implicits._
    // "aaaa" pins the non-overlapping run semantics; ties pin the
    // pair-asc break
    val words = Seq(("hello", 5L), ("hell", 3L), ("help", 2L),
      ("lo", 7L), ("a", 4L), ("aaaa", 2L), ("loop", 1L))
    val (mergesDf, encodedDf) = graft.ext.TrainPrep.bpeMerges(
      words.toDF("word", "cnt"), "word", "cnt", rounds = 3)
    val got = mergesDf.orderBy("round").collect().map(r =>
      (r.getAs[Long]("round"), r.getAs[String]("pair"),
        r.getAs[String]("merged"), r.getAs[Long]("pair_cnt"),
        r.getAs[Long]("vocab_after"), r.getAs[Long]("tokens_after"))).toSeq
    val (expMerges, expSyms) = bruteBpe(words, 3)
    assert(got === expMerges)
    val gotEnc = encodedDf.collect()
      .map(r => (r.getAs[String]("sym"), r.getAs[Long]("cnt")))
      .sortBy(identity).toSeq
    assert(gotEnc === expSyms.sortBy(identity))
  }

  test("bpeMerges: degenerate rounds (no pair left) keep words intact") {
    import spark.implicits._
    val words = Seq(("ab", 3L), ("a", 1L), ("b", 2L))
    val (mergesDf, encodedDf) = graft.ext.TrainPrep.bpeMerges(
      words.toDF("word", "cnt"), "word", "cnt", rounds = 3)
    val rows = mergesDf.orderBy("round").collect()
    assert(rows(0).getAs[String]("pair") === "a b")
    // rounds 2-3 have nothing to merge: NULL pair, corpus untouched
    assert(rows(1).getAs[String]("pair") === null)
    assert(rows(2).getAs[String]("pair") === null)
    assert(rows(1).getAs[Long]("vocab_after") === 3L) // a, b, ab
    val enc = encodedDf.collect()
      .map(r => (r.getAs[String]("sym"), r.getAs[Long]("cnt")))
      .sortBy(identity).toSeq
    assert(enc === Seq(("a", 1L), ("ab", 3L), ("b", 2L)))
  }

  test("bpeEncode with learned merges == bpeMerges encoded frame; " +
      "applies to unseen words") {
    import spark.implicits._
    val words = Seq(("banana", 4L), ("bandana", 2L), ("nab", 5L),
      ("ban", 3L)).toDF("word", "cnt")
    val (mergesDf, encoded) = graft.ext.TrainPrep.bpeMerges(
      words, "word", "cnt", rounds = 3)
    val merges = mergesDf.orderBy("round").collect()
      .flatMap(r => Option(r.getAs[String]("pair"))).toSeq
    // round trip: re-encoding the training words reproduces the
    // trained frame exactly
    val re = graft.ext.TrainPrep.bpeEncode(words, "word", merges)
      .select("sym", "cnt").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(identity).toSeq
    val trained = encoded.select("sym", "cnt").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(identity).toSeq
    assert(re === trained)
    // unseen word: same fold applied by the brute-force Java replace
    val unseen = Seq(("bandanna", 1L)).toDF("word", "cnt")
    val gotU = graft.ext.TrainPrep.bpeEncode(unseen, "word", merges)
      .select("sym").head().getString(0)
    val expU = merges.foldLeft("bandanna".toCharArray.mkString(" ")) {
      (s, p) => (" " + s + " ")
        .replace(" " + p + " ", " " + p.replace(" ", "") + " ").trim
    }
    assert(gotU === expU)
  }

  test("bpeMerges: checkpointDir path == localCheckpoint path") {
    import spark.implicits._
    val words = Seq(("banana", 4L), ("bandana", 2L), ("nab", 5L))
      .toDF("word", "cnt")
    val (local, reliable, _) = localAndReliable(
      graft.ext.TrainPrep.bpeMerges(words, "word", "cnt", 3)._1
        .orderBy("round").collect().map(r =>
          (r.getAs[Long]("round"), r.getAs[String]("pair"),
            r.getAs[Long]("pair_cnt"))).toSeq)
    assert(local === reliable)
  }

  // ------------------------------------------------------------------
  // dupSpans hashGrams

  test("dupSpans hashGrams == string-gram mode on random corpora") {
    val s = spark
    import s.implicits._
    samples(corpusGen, 12).foreach { corpus =>
      val df = corpus.toDF("doc_id", "text")
      def run(h: Boolean) = TextDedup
        .dupSpans(df, "text", "doc_id", k = 3, minCount = 2L, hashGrams = h)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
          r.getInt(4)))
        .toSet
      assert(run(true) === run(false))
    }
  }

  // ------------------------------------------------------------------
  // semanticDedup banded

  /** [[bruteSemantic]] generalized to banded buckets: candidates when
    * ANY band's sign slice matches. */
  private def bruteSemanticBanded(vecs: Seq[(Long, Array[Float])],
      tauBp: Int, bits: Int, bands: Int): Set[(Long, Long, Boolean)] = {
    def bucketAt(v: Array[Float], off: Int): Long =
      (0 until bits).map(i => if (v(off + i) >= 0) 1L << i else 0L).sum
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]): Double =
        x.zip(y).foldLeft(0.0)((acc, p) => acc + p._1.toDouble * p._2.toDouble)
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val parent = scala.collection.mutable.Map(vecs.map(v => v._1 -> v._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    for {
      (ia, va) <- vecs; (ib, vb) <- vecs
      if ia < ib
      if (0 until bands).exists(j =>
        bucketAt(va, j * bits) == bucketAt(vb, j * bits))
      if math.floor(cos(va, vb) * 10000 + 0.5) >= tauBp
    } union(ia, ib)
    vecs.map { case (id, _) =>
      val c = find(id)
      (id, c, id == c)
    }.toSet
  }

  test("semanticDedup banded == brute-force OR-of-bands union-find") {
    val s = spark
    import s.implicits._
    samples(vecGen, 8).foreach { vecs =>
      val df = vecs.map { case (id, v) => (id, v.toSeq) }
        .toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
      val got = VectorIndex
        .semanticDedup(df, "embedding", "vec_id", tauBp = 9000,
          bits = 4, bands = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
      assert(got === bruteSemanticBanded(vecs, tauBp = 9000, bits = 4,
        bands = 2))
    }
  }

  test("semanticDedup banded candidates ⊇ single-band (co-membership survives)") {
    val s = spark
    import s.implicits._
    samples(vecGen, 6).foreach { vecs =>
      val df = vecs.map { case (id, v) => (id, v.toSeq) }
        .toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
      def comps(bands: Int) = VectorIndex
        .semanticDedup(df, "embedding", "vec_id", tauBp = 9000,
          bits = 4, bands = bands)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val single = comps(1)
      val banded = comps(2)
      // band 0 IS the single band, so every single-band merge is a
      // banded candidate too: same-component pairs must stay together
      for {
        (a, ca) <- single; (b, cb) <- single
        if a < b && ca == cb
      } assert(banded(a) === banded(b),
        s"pair ($a,$b) merged single-band but split banded")
    }
  }

  test("semanticDedup banded recall: pair missed by band 0 is found via band 1") {
    val s = spark
    import s.implicits._
    // near-identical vectors whose FIRST sign differs: band 0 buckets
    // diverge, band 1 (components 5-8) agrees — cosine ~0.99998
    val a = Seq(0.001f, 0.5f, 0.5f, 0.5f, 0.5f, 0.5f, 0.5f, 0.5f)
    val b = Seq(-0.001f, 0.5f, 0.5f, 0.5f, 0.5f, 0.5f, 0.5f, 0.5f)
    val df = Seq((1L, a), (2L, b)).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val single = VectorIndex
      .semanticDedup(df, "embedding", "vec_id", tauBp = 9000, bits = 4)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSet
    assert(single === Set((1L, true), (2L, true)), "band 0 alone misses")
    val banded = VectorIndex
      .semanticDedup(df, "embedding", "vec_id", tauBp = 9000,
        bits = 4, bands = 2)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSet
    assert(banded === Set((1L, true), (2L, false)), "band 1 must catch it")
  }

  // ------------------------------------------------------------------
  // Profile shard merge + drift

  private def profRows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4))).toSet

  test("textProfile via merged shard counts == direct profile") {
    val s = spark
    import s.implicits._
    samples(corpusGen, 6).foreach { corpus =>
      val df = corpus.toDF("doc_id", "text")
        .withColumn("source", pmod(col("doc_id"), lit(3)))
      val direct = profRows(
        graft.ext.Profile.textProfile(df, "text", "source"))
      val shards = Seq(0, 1, 2).map(p =>
        graft.ext.Profile.tokenCounts(
          df.filter(pmod(col("doc_id"), lit(3)) === p), "text", "source"))
      val viaMerge = profRows(graft.ext.Profile.textProfileFromCounts(
        graft.ext.Profile.mergeTokenCounts(shards)))
      assert(viaMerge === direct)
    }
  }

  test("unigramDrift == brute-force floored-ppm TVD over the token domain") {
    val s = spark
    import s.implicits._
    samples(corpusGen, 6).foreach { corpus =>
      val df = corpus.toDF("doc_id", "text")
        .withColumn("source", pmod(col("doc_id"), lit(3)))
      val got = graft.ext.Profile
        .unigramDrift(graft.ext.Profile.tokenCounts(df, "text", "source"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
      // brute force mirrors the operator arithmetic exactly: floored
      // ppm ratios of exact counts, |p - q| summed over the FULL token
      // domain (absent tokens contribute p = 0), div 2
      val toks = corpus.flatMap { case (id, t) =>
        t.trim.split("\\s+").toSeq.map(tok => ((id % 3).toString, tok))
      }
      val c = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = toks.size.toLong
      val cc = toks.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val ng = toks.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val expected = ng.map { case (g, tot) =>
        val tvd = cc.map { case (tok, corpusCnt) =>
          val q = corpusCnt * 1000000L / n
          val p = c.getOrElse((g, tok), 0L) * 1000000L / tot
          math.abs(p - q)
        }.sum / 2
        (g, tot, tvd)
      }.toSet
      assert(got === expected)
    }
  }
}
