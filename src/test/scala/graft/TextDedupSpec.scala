package graft
// (connected-components tests at the bottom of this suite)

import org.apache.spark.sql.functions._

import graft.ext.{TextDedup, VectorIndex}

class TextDedupSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat today"), // near dup
      (4L, "completely different text with other words entirely here now"),
      (5L, "")
    ).toDF("doc_id", "text")
  }

  test("dedupExact keeps one row per distinct text, smallest id wins") {
    val kept = TextDedup.dedupExact(docs, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 3L, 4L, 5L))
  }

  test("lshCandidates finds exact dups in every band config") {
    for (bands <- Seq(1, 2, 4)) {
      val pairs = TextDedup.lshCandidates(docs, "text", "doc_id",
        numHashes = 4, bands = bands)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L)), s"bands=$bands must catch exact dup")
      assert(pairs.forall { case (a, b) => a < b })
    }
  }

  test("more bands with shorter rows → higher recall") {
    val strict = TextDedup.lshCandidates(docs, "text", "doc_id",
      numHashes = 4, bands = 1).count()
    val loose = TextDedup.lshCandidates(docs, "text", "doc_id",
      numHashes = 4, bands = 4).count()
    assert(loose >= strict)
    // with 4 bands of 1 hash, the near-dup pair (1,3) collides on most
    // hashes (8/9 shared shingles)
    val loosePairs = TextDedup.lshCandidates(docs, "text", "doc_id",
      numHashes = 4, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loosePairs.exists(p => p == (1L, 3L) || p == (2L, 3L)),
      s"near-dup should surface at bands=4, got $loosePairs")
  }

  test("verifiedPairs computes exact jaccard and filters by threshold") {
    val cands = TextDedup.lshCandidates(docs, "text", "doc_id",
      numHashes = 4, bands = 4)
    val verified = TextDedup.verifiedPairs(docs, cands, "text", "doc_id",
      threshold = 0.99)
    val exact = verified.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact === Set((1L, 2L)), "only the exact dup survives jaccard>=0.99")
    val lower = TextDedup.verifiedPairs(docs, cands, "text", "doc_id",
      threshold = 0.5).count()
    assert(lower >= 1)
  }

  test("connectedComponents: chains merge, singletons stay, min id wins") {
    import spark.implicits._
    // components: {1,2,3,4} via a path (diameter 3), {10,11}, {20}
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val cc = TextDedup.connectedComponents(pairs, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("reliable checkpointDir path == localCheckpoint path (both CC variants)") {
    import spark.implicits._
    // local[n] reaches the same blocks either way; the point of the
    // reliable path is surviving executor loss on a cluster — here we
    // pin that the RESULTS are identical so a deployment's checkpoint
    // dir is free to flip. The set-similarity joins and semanticDedup
    // (CC over cosine pairs) pin their state the same way.
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val vecs = Seq(
      (1L, Seq(0.5f, 0.5f, 0.5f, 0.5f)), (2L, Seq(0.5f, 0.5f, 0.5f, 0.4f)),
      (3L, Seq(-0.5f, 0.5f, 0.5f, 0.5f)), (4L, Seq(-0.5f, 0.4f, 0.5f, 0.5f)),
      (5L, Seq(0.5f, -0.5f, 0.5f, -0.5f)))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    val (local, reliable, ckpt) = localAndReliable(Seq(
      "connectedComponents" ->
        asMap(TextDedup.connectedComponents(pairs, nodes)),
      "connectedComponentsStar" ->
        asMap(TextDedup.connectedComponentsStar(pairs, nodes)),
      "similarityJoin" ->
        rows(TextDedup.similarityJoin(docs, "text", "doc_id")),
      "containmentJoin" ->
        rows(TextDedup.containmentJoin(docs, "text", "doc_id")),
      "semanticDedup" -> rows(VectorIndex.semanticDedup(vecs, "embedding",
        "vec_id", tauBp = 9000, bits = 4))))
    local.zip(reliable).foreach { case ((op, l), (_, r)) =>
      assert(l === r, op)
      assert(l != Seq.empty, s"$op returned no rows")
    }
    // reliable mode actually wrote checkpoint data to the directory
    val wrote = new java.io.File(java.net.URI.create(ckpt)).listFiles()
    assert(wrote != null && wrote.nonEmpty, "no checkpoint files written")
  }

  test("dedupFuzzyKeepIds keeps one id per cluster") {
    import spark.implicits._
    val pairs = Seq((5L, 7L), (7L, 9L)).toDF("id_a", "id_b")
    val nodes = Seq(5L, 7L, 9L, 42L).toDF("id")
    val keep = TextDedup.dedupFuzzyKeepIds(pairs, nodes)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(keep === Seq(5L, 42L))
  }

  test("lshCandidates starCap: same components, linear edge count on mega-clusters") {
    import spark.implicits._
    // 40 identical docs (one clique bucket) + 2 distinct docs
    val docs = ((1L to 40L).map(i => (i, "dup dup dup dup dup text")) ++
      Seq((100L, "alpha beta gamma delta"), (200L, "one two three four")))
      .toDF("doc_id", "text")
    val full = TextDedup.lshCandidates(docs, "text", "doc_id")
    val capped = TextDedup.lshCandidates(docs, "text", "doc_id", starCap = 10)
    assert(full.count() === 40L * 39 / 2) // quadratic
    assert(capped.count() === 39L)        // star: linear
    val keepFull = TextDedup
      .dedupFuzzyKeepIds(full, docs.select($"doc_id"), nodeCol = "doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val keepCapped = TextDedup
      .dedupFuzzyKeepIds(capped, docs.select($"doc_id"), nodeCol = "doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(keepFull === Seq(1L, 100L, 200L))
    assert(keepCapped === keepFull) // identical clustering outcome
  }

  test("novelAgainst: batch docs collide with corpus dups, novel ones pass") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // exact dup
      (11L, "a completely different sentence about spark engines"),
      (12L, "pack my box with five dozen liquor jugs")       // exact dup
    ).toDF("doc_id", "text")
    val novel = TextDedup.novelAgainst(corpus, batch, "text", "doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(novel === Seq(11L))
    // empty corpus => everything is novel
    val all = TextDedup.novelAgainst(corpus.filter($"doc_id" < 0), batch,
      "text", "doc_id").count()
    assert(all === 3L)
  }

  test("connectedComponents refuses to return unconverged labels") {
    import spark.implicits._
    // a path of diameter 6 cannot converge in 2 rounds of propagation
    val pairs = (1L to 6L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val nodes = (1L to 7L).toDF("id")
    val ex = intercept[IllegalStateException] {
      TextDedup.connectedComponents(pairs, nodes, maxRounds = 2).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("connectedComponentsStar matches propagation on mixed graphs") {
    import spark.implicits._
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val star = TextDedup.connectedComponentsStar(pairs, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("connectedComponentsStar handles long chains in O(log n) rounds") {
    import spark.implicits._
    // diameter-63 path: propagation would need 63 rounds; star converges
    // well inside its default budget (O(log n))
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val nodes = (1L to 64L).toDF("id")
    val star = TextDedup.connectedComponentsStar(pairs, nodes, maxRounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === (1L to 64L).map(_ -> 1L).toMap)
  }

  test("connectedComponentsStar: empty edge set labels every node singleton") {
    import spark.implicits._
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val nodes = Seq(3L, 8L).toDF("id")
    val star = TextDedup.connectedComponentsStar(pairs, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === Map(3L -> 3L, 8L -> 8L))
  }

  test("similarityJoin dfCap: capped shingles stop being join keys; rare pairs survive") {
    import spark.implicits._
    // Two near-dup pairs: one made of RARE shingles (df = 2), one whose
    // shingles are shared with 20 boilerplate clones (df >= 21). With a
    // tiny dfCap the boilerplate pair's shared prefix shingles are all
    // capped → that pair (and the clone cluster's pairs) drop out, the
    // rare pair stays. Uncapped, both pairs appear.
    val rareA = "qq ww ee rr tt yy uu ii"
    val rareB = "qq ww ee rr tt yy uu oo"
    val boiler = "aa bb cc dd ee2 ff gg hh"
    val boilerB = "aa bb cc dd ee2 ff gg zz"
    val docs = (Seq((0L, rareA), (1L, rareB), (2L, boiler), (3L, boilerB)) ++
      (10L until 30L).map(i => (i, boiler))).toDF("doc_id", "text")
    def pairs(cap: Long): Set[(Long, Long)] = TextDedup
      .similarityJoin(docs, "text", "doc_id", ngram = 3,
        simNum = 1, simDen = 2, dfCap = cap)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val uncapped = pairs(Long.MaxValue)
    assert(uncapped.contains((0L, 1L)))
    assert(uncapped.contains((2L, 3L)))
    val capped = pairs(3L)
    assert(capped.contains((0L, 1L)), "rare-shingle pair must survive the cap")
    assert(!capped.contains((2L, 3L)),
      "pair whose shared shingles are all high-df is the documented recall cost")
    // the cap only ever REMOVES pairs, never invents them
    assert(capped.subsetOf(uncapped))
  }

  test("containmentJoin: finds doc-inside-doc pairs Jaccard misses; dfCap guards") {
    import spark.implicits._
    val small = "k1 k2 k3 k4 k5 k6"
    val big = small + " m1 m2 m3 m4 m5 m6 m7 m8 m9 m10 m11 m12 m13 m14 m15 m16"
    val other = "n1 n2 n3 n4 n5 n6 n7 n8"
    val docs = Seq((1L, small), (2L, big), (3L, other)).toDF("doc_id", "text")
    val got = TextDedup.containmentJoin(docs, "text", "doc_id", ngram = 3)
      .select($"doc_in", $"doc_out").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)), "small ⊆ big, asymmetric, no other pairs")
    // symmetric Jaccard at 1/2 misses it: inter=4 3-grams, union=24
    val jac = TextDedup.similarityJoin(docs, "text", "doc_id", ngram = 3,
      simNum = 1, simDen = 2).count()
    assert(jac === 0L)
    // dfCap: clone the small doc's shingles into 20 boilerplate docs so
    // every shared shingle is high-df → capped join finds nothing
    val noisy = docs.union(
      (10L until 30L).map(i => (i, small)).toDF("doc_id", "text"))
    val capped = TextDedup.containmentJoin(noisy, "text", "doc_id",
      ngram = 3, dfCap = 3L)
    assert(capped.filter($"doc_in" === 1L && $"doc_out" === 2L).isEmpty)
  }

  test("dedupParagraphsKeepFirst: global first occurrence survives " +
    "(within-doc repeats too), documents reassemble in order, an " +
    "all-duplicate document keeps its row with empty text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "intro\nLICENSE\nbody one\nLICENSE"), // within-doc repeat
      (2L, "LICENSE\nbody two"),                 // cross-doc repeat
      (3L, "LICENSE"),                           // nothing novel
      (4L, "body two\nfresh tail")               // cross-doc repeat mid-doc
    ).toDF("doc_id", "text")
    val out = TextDedup
      .dedupParagraphsKeepFirst(docs, "doc_id", "text", "\n")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out === Seq(
      1L -> "intro\nLICENSE\nbody one", // first LICENSE kept, repeat dropped
      2L -> "body two",
      3L -> "",                         // row kept, text emptied
      4L -> "fresh tail"))
  }
}
