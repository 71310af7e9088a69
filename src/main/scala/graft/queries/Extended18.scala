package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** Round-10 batch (q183–q196) — that round's library shelves, each
  * gated through its operator:
  *
  *  - q183 bigram-LM perplexity filtering (ext/LanguageModel): train on
  *    the 'en' slice, score the whole corpus — the CCNet cross-lingual
  *    quality filter (q130's unigram proxy grown a conditioning token);
  *  - q184 Bloom-filter membership sketch + pruned anti join
  *    (ext/BloomSketch) — the runtime-filter economics for 100 TB
  *    decontamination, gated on its no-false-negative contract;
  *  - q185 reciprocal-rank fusion (ext/Retrieval.rrfFuse) of BM25 and
  *    brute-cosine rankings — the hybrid-retrieval combiner;
  *  - q186 personalized PageRank (ext/Graph.personalizedPageRank) —
  *    seed-set proximity, the "expand this whitelist" primitive;
  *  - q187/q188/q189 the retrieval-evaluation shelf
  *    (Retrieval.ndcg / rbo / recallAtK): graded ranking quality,
  *    top-weighted ranking drift, and the ANN-shortcut price — each
  *    parameterized to land MID-scale at the gate SF (a gate stuck at
  *    1.0 or 0 proves nothing);
  *  - q190 Index.merge (shard-fold ≡ whole build, cross-engine);
  *  - q191 product quantization (train→encode→LUT-search, the
  *    compressed-codes ANN rung, fully SQL-unrolled oracle);
  *  - q192 DSIR-style data selection (TrainPrep.dsirImportance);
  *  - q193 the ANN-ladder recall table (LSH 2/10 → multi-probe 6/10 →
  *    IVF 10/10 at the gate SF — the index-selection read-out).
  */
object Extended18 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // --------------------------------------------------------------------
  // q183 — bigram-LM quality scoring: train the interpolated bigram
  // model (λ = 9/10 on the bigram term, unigram backoff, OOV floor
  // 20 nats) on lang='en' documents, score EVERY document by average
  // per-transition NLL in floor-micro-nats, aggregate per language.
  // The semantic check rides the gate: 'en' must score lowest (the
  // model recognizes its own training distribution) and that ordering
  // is part of the hashed result.
  //
  // Scale: training counts collapse map-side on the bigram-type frame;
  // scoring shuffles on the bigram key (stopword-head skew = the q93 /
  // AQE-skew territory); every probability is a ratio of exact BIGINT
  // counts floored to micro-nats per TYPE, so per-doc sums are
  // aggregation-order-proof (the q130 doctrine).
  def q183(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "documents")
    val counts = graft.ext.LanguageModel
      .bigramCounts(d.filter($"lang" === "en"), "text", "doc_id")
    val model = graft.ext.LanguageModel.bigramModel(counts)
    graft.ext.LanguageModel.scoreBigrams(d, "text", "doc_id", model)
      .join(d.select($"doc_id", $"lang"), "doc_id")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_trans").as("n_trans"),
        sum($"nll_sum_micro").as("nll_sum_micro"))
      .select($"lang", $"n_docs", $"n_trans", $"nll_sum_micro",
        expr("nll_sum_micro div n_trans").as("nll_avg_micro"))
      .orderBy($"lang")
  }

  val q183Sql: String =
    """WITH tk AS (SELECT doc_id, lang,
      |        regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents),
      | ix AS (SELECT doc_id, lang, toks,
      |        unnest(generate_series(1, len(toks) - 1)) AS i
      |        FROM tk WHERE len(toks) >= 2),
      | pairs AS (SELECT doc_id, lang, toks[i] AS u, toks[i + 1] AS v FROM ix),
      | occ AS (SELECT doc_id, u, v, CAST(count(*) AS BIGINT) AS occ
      |        FROM pairs GROUP BY 1, 2, 3),
      | train AS (SELECT u, v, CAST(count(*) AS BIGINT) AS c
      |        FROM pairs WHERE lang = 'en' GROUP BY 1, 2),
      | cu AS (SELECT u, CAST(sum(c) AS BIGINT) AS cu FROM train GROUP BY u),
      | cv AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM train GROUP BY v),
      | n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM train),
      | model AS (SELECT t.u, t.v,
      |        CAST(floor(-ln(0.9 * CAST(t.c AS DOUBLE) / CAST(cu.cu AS DOUBLE)
      |              + 0.1 * CAST(cv.cv AS DOUBLE)
      |                / CAST((SELECT n FROM n) AS DOUBLE)) * 1000000.0)
      |          AS BIGINT) AS nll_micro
      |        FROM train t JOIN cu ON cu.u = t.u JOIN cv ON cv.v = t.v),
      | backoff AS (SELECT v,
      |        CAST(floor(-ln(0.1 * CAST(cv AS DOUBLE)
      |              / CAST((SELECT n FROM n) AS DOUBLE)) * 1000000.0)
      |          AS BIGINT) AS bo_micro
      |        FROM cv),
      | scored AS (SELECT o.doc_id, o.occ,
      |        COALESCE(m.nll_micro, b.bo_micro, 20000000) AS nll
      |        FROM occ o
      |        LEFT JOIN model m ON m.u = o.u AND m.v = o.v
      |        LEFT JOIN backoff b ON b.v = o.v),
      | perdoc AS (SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_trans,
      |        CAST(sum(occ * nll) AS BIGINT) AS nll_sum
      |        FROM scored GROUP BY doc_id)
      |SELECT d.lang, count(*) AS n_docs,
      |       CAST(sum(p.n_trans) AS BIGINT) AS n_trans,
      |       CAST(sum(p.nll_sum) AS BIGINT) AS nll_sum_micro,
      |       CAST(sum(p.nll_sum) // sum(p.n_trans) AS BIGINT) AS nll_avg_micro
      |FROM perdoc p JOIN documents d ON d.doc_id = p.doc_id
      |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // --------------------------------------------------------------------
  // q184 — Bloom-sketch pruned anti join: build the membership filter
  // over the "benchmark" key set (customers with c_custkey % 7 = 0,
  // m = 4096 bits, k = 5 hashes), then decontaminate orders against it
  // with BloomSketch.prunedAntiJoin. The gate pins the sketch's
  // CONTRACT, not its bit pattern (hashes aren't SQL-portable — the
  // q117/q147/q159 sketch-shelf technique):
  //   pruned ≡ exact  — the pruned anti join returns EXACTLY the plain
  //                     anti join (no false negatives ⇒ lossless);
  //   no_false_neg    — every member probes true;
  //   fp_within_bound — false positives over the non-member key domain
  //                     ≤ 5× the (1−e^(−kn/m))^k expectation + slack.
  def q184(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val B = graft.ext.BloomSketch
    val numBits = 4096
    val numHashes = 5
    val cust = t(s, dir, "customer")
    val dim = cust.filter($"c_custkey" % 7 === 0).select($"c_custkey".as("k"))
    val fact = t(s, dir, "orders")
    val bloom = broadcast(B.packed(B.addAll(dim, "k", numBits, numHashes), numBits))
    val exactN = fact
      .join(dim.select($"k".as("o_custkey")), Seq("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_exact"))
    val prunedN = B.prunedAntiJoin(fact, "o_custkey", dim, "k", numBits, numHashes)
      .agg(count(lit(1)).as("n_pruned"))
    val nMem = dim.agg(count(lit(1)).as("n_members"))
    val falseNeg = dim.crossJoin(bloom)
      .filter(!B.mightContain($"k", $"bloom", numBits, numHashes))
      .agg(count(lit(1)).as("n_false_neg"))
    val fp = cust.filter($"c_custkey" % 7 =!= 0)
      .select($"c_custkey".as("k")).crossJoin(bloom)
      .withColumn("maybe", B.mightContain($"k", $"bloom", numBits, numHashes))
      .agg(count(lit(1)).as("n_nonmembers"),
        sum(when($"maybe", 1L).otherwise(0L)).as("n_fp"))
    nMem.crossJoin(exactN).crossJoin(prunedN).crossJoin(falseNeg).crossJoin(fp)
      .select($"n_members", $"n_exact",
        ($"n_pruned" === $"n_exact").as("pruned_matches_exact"),
        ($"n_false_neg" === 0L).as("no_false_negatives"),
        ($"n_fp".cast("double") <=
          greatest(
            ceil(lit(5.0) *
              pow(lit(1.0) - exp(lit(-numHashes.toDouble) *
                $"n_members".cast("double") / lit(numBits.toDouble)),
                lit(numHashes.toDouble)) *
              $"n_nonmembers".cast("double")).cast("double"),
            lit(10.0))).as("fp_within_bound"))
  }

  val q184Sql: String =
    """SELECT
      |  (SELECT count(*) FROM customer WHERE c_custkey % 7 = 0) AS n_members,
      |  (SELECT count(*) FROM orders o WHERE NOT EXISTS (
      |     SELECT 1 FROM customer c
      |     WHERE c.c_custkey % 7 = 0 AND c.c_custkey = o.o_custkey)) AS n_exact,
      |  TRUE AS pruned_matches_exact,
      |  TRUE AS no_false_negatives,
      |  TRUE AS fp_within_bound""".stripMargin

  // --------------------------------------------------------------------
  // q185 — hybrid retrieval via reciprocal rank fusion: the BM25 top-50
  // for ('data', 'model') from the built index (ext/Index, q181's
  // ranker) fused with the brute-cosine top-50 around probe vector 0
  // (q23's ranker, scores in round-half-up basis points so ranking is
  // integer-deterministic), RRF k₀ = 60 in exact nano units. Both
  // input lists are BOUNDED (top-50) before fusion — the corpus-sized
  // work stays inside the rankers, fusion touches ≤ 100 rows.
  def q185(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lex = graft.ext.Index.build(t(s, dir, "documents"), "text", "doc_id")
      .search(Seq("data", "model"), k = 50)
      .select($"doc_id".as("id"), $"score_nano".as("score"))
    val e = t(s, dir, "embeddings")
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qvec"))
    val vec = e.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id".as("id"),
        floor(VectorFns.cosine($"embedding", $"qvec") * 10000.0 + 0.5)
          .cast("long").as("score"))
      .orderBy($"score".desc, $"id".asc)
      .limit(50)
    graft.ext.Retrieval
      .rrfFuse(Seq("lex" -> lex, "vec" -> vec), "id", "score", k0 = 60)
      .limit(10)
  }

  val q185Sql: String = {
    val dot =
      """list_sum(list_transform(list_zip(e.embedding, q.qvec),
        | x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))""".stripMargin
    val norm = (v: String) =>
      s"sqrt(list_sum(list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    s"""WITH d AS (SELECT doc_id,
       |        regexp_split_to_array(trim(text), '\\s+') AS toks
       |        FROM documents),
       | dd AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d),
       | corpus AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dd),
       | tf AS (SELECT token, doc_id, dl, count(*) AS tf
       |        FROM (SELECT doc_id, dl, unnest(toks) AS token FROM dd)
       |        GROUP BY 1, 2, 3),
       | dict AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       | scored AS (
       |   SELECT t.doc_id,
       |     floor(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |              / (CAST(df AS DOUBLE) + 0.5))
       |       * (CAST(t.tf AS DOUBLE) * 2.2
       |          / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75
       |             * CAST(t.dl AS DOUBLE)
       |             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
       |       * 1000000000.0) AS s_nano
       |   FROM tf t JOIN dict USING (token) CROSS JOIN corpus
       |   WHERE t.token IN ('data', 'model')),
       | lex AS (SELECT doc_id AS id, CAST(sum(s_nano) AS BIGINT) AS score
       |   FROM scored GROUP BY doc_id
       |   ORDER BY score DESC, id LIMIT 50),
       | q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
       | vec AS (SELECT e.vec_id AS id,
       |     CAST(floor($dot / (${norm("e.embedding")} * ${norm("q.qvec")})
       |       * 10000.0 + 0.5) AS BIGINT) AS score
       |   FROM embeddings e CROSS JOIN q
       |   WHERE e.vec_id <> 0
       |   ORDER BY score DESC, id LIMIT 50),
       | lexr AS (SELECT id, CAST(row_number() OVER (
       |        ORDER BY score DESC, id) AS BIGINT) AS rank FROM lex),
       | vecr AS (SELECT id, CAST(row_number() OVER (
       |        ORDER BY score DESC, id) AS BIGINT) AS rank FROM vec),
       | u AS (SELECT id, 'lex' AS list, rank FROM lexr
       |       UNION ALL SELECT id, 'vec', rank FROM vecr)
       |SELECT id,
       |  CAST(sum(1000000000 // (60 + rank)) AS BIGINT) AS rrf_nano,
       |  count(*) AS n_lists,
       |  CAST(max(CASE WHEN list = 'lex' THEN rank END) AS BIGINT) AS rank_lex,
       |  CAST(max(CASE WHEN list = 'vec' THEN rank END) AS BIGINT) AS rank_vec
       |FROM u GROUP BY id
       |ORDER BY rrf_nano DESC, id LIMIT 10""".stripMargin
  }

  // --------------------------------------------------------------------
  // q186 — personalized PageRank: q134's part↔supplier bipartite graph,
  // restart mass concentrated on the seed set {part nodes, p_partkey %
  // 97 = 0} (pulled from the PART dim so seeds without graph edges
  // exercise the full-outer universe path), 3 supersteps, integer ppt
  // (Graph.personalizedPageRank with checkConvergence=false — the
  // oracle is the 3-round unroll, q134's contract). Top 20 by
  // proximity; suppliers serving the seed parts dominate.
  def q186(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val half = t(s, dir, "lineitem")
      .select(($"l_partkey" * 2).as("src"), ($"l_suppkey" * 2 + 1).as("dst"))
      .distinct()
    val edges = half.union(half.select($"dst".as("src"), $"src".as("dst")))
    val seeds = t(s, dir, "part")
      .filter($"p_partkey" % 97 === 0)
      .select(($"p_partkey" * 2).as("node"))
    graft.ext.Graph
      .personalizedPageRank(edges, seeds, maxIterations = 3,
        checkConvergence = false)
      .select($"node", ($"node" % 2).as("is_supp"), $"r".as("rank_ppt"))
      .orderBy($"rank_ppt".desc, $"node")
      .limit(20)
  }

  val q186Sql: String = {
    def step(prev: String, cur: String): String =
      s""" acc_$cur AS (
         |  SELECT e.dst AS node, CAST(sum(p.r // b.d) AS BIGINT) AS acc
         |  FROM e JOIN $prev p ON p.node = e.src
         |         JOIN base b ON b.node = e.src
         |  WHERE b.d > 0
         |  GROUP BY e.dst),
         | $cur AS (
         |  SELECT b.node,
         |    CAST(b.rst + (85 * coalesce(a.acc, 0)) // 100 AS BIGINT) AS r
         |  FROM base b LEFT JOIN acc_$cur a ON a.node = b.node)""".stripMargin
    s"""WITH half AS (
       |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM lineitem),
       | e AS (SELECT src, dst FROM half
       |       UNION ALL SELECT dst AS src, src AS dst FROM half),
       | deg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY src),
       | seeds AS (SELECT DISTINCT p_partkey * 2 AS node FROM part
       |           WHERE p_partkey % 97 = 0),
       | ns AS (SELECT count(*) AS ns FROM seeds),
       | base AS (
       |  SELECT coalesce(d.node, s.node) AS node,
       |         coalesce(d.d, 0) AS d,
       |         CASE WHEN s.node IS NOT NULL
       |              THEN 150000000000 // (SELECT ns FROM ns) ELSE 0 END AS rst,
       |         CASE WHEN s.node IS NOT NULL
       |              THEN 1000000000000 // (SELECT ns FROM ns) ELSE 0 END AS r0
       |  FROM deg d FULL OUTER JOIN seeds s ON s.node = d.node),
       | r0 AS (SELECT node, CAST(r0 AS BIGINT) AS r FROM base),
       |${step("r0", "r1")},
       |${step("r1", "r2")},
       |${step("r2", "r3")}
       |SELECT node, node % 2 AS is_supp, r AS rank_ppt
       |FROM r3 ORDER BY rank_ppt DESC, node LIMIT 20""".stripMargin
  }

  // --------------------------------------------------------------------
  // Shared BM25-top-k SQL for the retrieval-evaluation oracles (q187/
  // q188): the uncapped q111 scoring, top-`k` by (score desc, doc_id)
  // — the exact list Index.build + search produces. The base CTE chain
  // (d/dd/corpus/tf/dict) appears once; [[bm25TopSqlTerms]] emits only
  // the per-query scored+top-k tail for additional term sets.
  private val bm25BaseSql: String =
    """d AS (SELECT doc_id,
      |        regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents),
      | dd AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d),
      | corpus AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dd),
      | tf AS (SELECT token, doc_id, dl, count(*) AS tf
      |        FROM (SELECT doc_id, dl, unnest(toks) AS token FROM dd)
      |        GROUP BY 1, 2, 3),
      | dict AS (SELECT token, count(*) AS df FROM tf GROUP BY token)""".stripMargin

  private def bm25TopSqlTerms(k: Int, name: String,
      terms: Seq[String]): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""${name}_sc AS (
       |   SELECT t.doc_id,
       |     floor(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |              / (CAST(df AS DOUBLE) + 0.5))
       |       * (CAST(t.tf AS DOUBLE) * 2.2
       |          / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75
       |             * CAST(t.dl AS DOUBLE)
       |             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
       |       * 1000000000.0) AS s_nano
       |   FROM tf t JOIN dict USING (token) CROSS JOIN corpus
       |   WHERE t.token IN ($inList)),
       | $name AS (SELECT doc_id AS id, CAST(sum(s_nano) AS BIGINT) AS score
       |   FROM ${name}_sc GROUP BY doc_id
       |   ORDER BY score DESC, id LIMIT $k)""".stripMargin
  }

  // --------------------------------------------------------------------
  // q187 — nDCG@10 of the BM25 ranking for ('dup', 'data') against
  // graded judgments rel = 2·contains('dup') + contains('data') (0–3;
  // 'dup' is the rare term, so relevance is dominated by it exactly as
  // the idf is): Retrieval.ndcg with exponential gain, ln-ratio log2
  // discount, per-rank terms floored to micro units — the
  // ranking-quality gate a retrieval stack runs after every
  // index/ranker change. BM25's length normalization interleaves
  // rel-2 docs above some rel-3 docs, so the gate value is a REAL
  // 0.92, not a degenerate 1.0 (a term-presence grading was tried
  // first and collapsed to dcg == idcg). Ideal ordering = judgments
  // top-10 by (rel desc, id asc) via TakeOrderedAndProject, never a
  // global sort.
  def q187(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val ranking = graft.ext.Index.build(docs, "text", "doc_id")
      .search(Seq("dup", "data"), k = 10)
      .select($"doc_id", $"score_nano")
    val judgments = docs
      .select($"doc_id", graft.functions.TextFns.tokens($"text").as("toks"))
      .select($"doc_id",
        (lit(2L) * array_contains($"toks", "dup").cast("long") +
          array_contains($"toks", "data").cast("long")).as("rel"))
    graft.ext.Retrieval
      .ndcg(ranking, judgments, "doc_id", "score_nano", "rel", k = 10)
  }

  val q187Sql: String = {
    // power-of-two rank+1 → exact integer path (the ln2/ln(rank+1)
    // ratio is exactly 1/j there and the scaled term sits ON a
    // boundary — see Retrieval.ndcg's term doc)
    val term = (rel: String, rank: String) =>
      s"""CAST(CASE WHEN (($rank + 1) & $rank) = 0
         |  THEN (CAST(pow(2.0, CAST($rel AS DOUBLE)) AS BIGINT) - 1)
         |    * 1000000 // CAST(round(log2($rank + 1)) AS BIGINT)
         |  ELSE floor((pow(2.0, CAST($rel AS DOUBLE)) - 1.0)
         |    * ln(2.0) / ln(CAST($rank AS DOUBLE) + 1.0)
         |    * 1000000.0) END AS BIGINT)""".stripMargin
    s"""WITH $bm25BaseSql,
       | ${bm25TopSqlTerms(10, "lex", Seq("dup", "data"))},
       | jd AS (SELECT doc_id,
       |          (2 * CASE WHEN list_contains(toks, 'dup') THEN 1 ELSE 0 END
       |           + CASE WHEN list_contains(toks, 'data') THEN 1 ELSE 0 END)
       |            AS rel
       |        FROM d),
       | ranked AS (SELECT l.id, row_number() OVER (
       |              ORDER BY l.score DESC, l.id) AS rank,
       |            COALESCE(j.rel, 0) AS rel
       |            FROM lex l LEFT JOIN jd j ON j.doc_id = l.id),
       | dcg AS (SELECT COALESCE(sum(${term("rel", "rank")}), 0) AS dcg_micro
       |         FROM ranked),
       | idealtop AS (SELECT rel, doc_id FROM jd
       |              ORDER BY rel DESC, doc_id LIMIT 10),
       | ideal AS (SELECT rel, row_number() OVER (
       |             ORDER BY rel DESC, doc_id) AS rank FROM idealtop),
       | idcg AS (SELECT COALESCE(sum(${term("rel", "rank")}), 0) AS idcg_micro
       |          FROM ideal)
       |SELECT CAST(dcg_micro AS BIGINT) AS dcg_micro,
       |       CAST(idcg_micro AS BIGINT) AS idcg_micro,
       |       CAST(CASE WHEN idcg_micro > 0
       |            THEN dcg_micro * 1000000 // idcg_micro
       |            ELSE 0 END AS BIGINT) AS ndcg_ppm
       |FROM dcg CROSS JOIN idcg""".stripMargin
  }

  // --------------------------------------------------------------------
  // q188 — rank-biased overlap (RBO@10, p = 9/10, truncated sum)
  // between the BM25 rankings BEFORE and AFTER query expansion
  // (('data') vs ('data','the')) — the top-weighted drift monitor for
  // "how much did this ranker/query change reorder what users see",
  // in EXACT nano units: the d-th term overlap·1·9^(d−1)·10⁹ div
  // (10^d·d) is pure BIGINT (powers from a 10-row literal frame), so
  // there is no cross-engine pow() ulp risk at all. (The lexical-vs-
  // vector pairing was tried first and gave overlap 0 at the gate SF —
  // a degenerate all-zero sum; expansion drift lands mid-scale.)
  def q188(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = graft.ext.Index.build(t(s, dir, "documents"), "text", "doc_id")
    val before = idx.search(Seq("data"), k = 10)
      .select($"doc_id".as("id"), $"score_nano".as("score"))
    val after = idx.search(Seq("data", "the"), k = 10)
      .select($"doc_id".as("id"), $"score_nano".as("score"))
    graft.ext.Retrieval.rbo(after, before, "id", "score", k = 10)
  }

  val q188Sql: String = {
    val depthRows = (1 to 10).map(d =>
      s"(${d}, ${BigInt(9).pow(d - 1)}, ${BigInt(10).pow(d)})").mkString(", ")
    s"""WITH $bm25BaseSql,
       | ${bm25TopSqlTerms(10, "lex_a", Seq("data", "the"))},
       | ${bm25TopSqlTerms(10, "lex_b", Seq("data"))},
       | ra AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS r
       |        FROM lex_a),
       | rb AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS r
       |        FROM lex_b),
       | joint AS (SELECT greatest(ra.r, rb.r) AS m
       |           FROM ra JOIN rb ON ra.id = rb.id),
       | depths(d, p9, p10) AS (VALUES $depthRows),
       | terms AS (SELECT depths.d, depths.p9, depths.p10,
       |             count(joint.m) AS overlap
       |           FROM depths LEFT JOIN joint ON joint.m <= depths.d
       |           GROUP BY 1, 2, 3)
       |SELECT CAST(max(CASE WHEN d = 10 THEN overlap END) AS BIGINT)
       |         AS overlap_at_k,
       |       CAST(sum(overlap * 1 * p9 * 1000000000 // (p10 * d)) AS BIGINT)
       |         AS rbo_nano
       |FROM terms""".stripMargin
  }

  // --------------------------------------------------------------------
  // q189 — ANN recall@10: how much of the exact brute-force cosine
  // top-10 the single-bucket sign-LSH shortcut recovers —
  // Retrieval.recallAtK, the quality gate that prices every rung of
  // the ANN ladder. 4 sign bits (16 buckets, ~31 candidates/bucket at
  // the gate SF) land recall mid-scale (2/10) — 8 bits leaves 1/10 and
  // the multi-probe/IVF rungs (q135/q49) exist precisely to buy the
  // rest back. Both rankings are bounded lists; the only corpus-sized
  // work is the two rankers (one broadcast bucket join, one broadcast
  // brute scan). Single-band here is a QUERY-SIDE probe — one bucket
  // scan (~n/16 rows) against one broadcast query row, its recall loss
  // the very number this query prices — not the PAIR-blocking shape
  // whose n²/16 expansion bandedScoredPairs guards (q196).
  def q189(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
      .withColumn("bucket", VectorFns.signBucket($"embedding", 4))
    val q = e.filter($"vec_id" === 0)
      .select($"bucket".as("qbucket"), $"embedding".as("qvec"))
    def bp(c: org.apache.spark.sql.Column) =
      floor(c * 10000.0 + 0.5).cast("long")
    val exact = e.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q.select($"qvec")))
      .select($"vec_id".as("id"),
        bp(VectorFns.cosine($"embedding", $"qvec")).as("score"))
      .orderBy($"score".desc, $"id".asc).limit(10)
    val approx = e.join(broadcast(q), $"bucket" === $"qbucket")
      .filter($"vec_id" =!= 0)
      .select($"vec_id".as("id"),
        bp(VectorFns.cosine($"embedding", $"qvec")).as("score"))
      .orderBy($"score".desc, $"id".asc).limit(10)
    graft.ext.Retrieval.recallAtK(approx, exact, "id", "score", k = 10)
  }

  val q189Sql: String = {
    val dot =
      """list_sum(list_transform(list_zip(e.embedding, q.qvec),
        | x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))""".stripMargin
    val norm = (v: String) =>
      s"sqrt(list_sum(list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    val bucket = (v: String) =>
      (0 until 4).map(i =>
        s"(CASE WHEN $v[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)")
        .mkString("(", " + ", ")")
    s"""WITH b AS (SELECT vec_id, embedding, ${bucket("embedding")} AS bucket
       |           FROM embeddings),
       | q AS (SELECT bucket AS qbucket, embedding AS qvec FROM b
       |       WHERE vec_id = 0),
       | exact AS (SELECT e.vec_id AS id,
       |     CAST(floor($dot / (${norm("e.embedding")} * ${norm("q.qvec")})
       |       * 10000.0 + 0.5) AS BIGINT) AS score
       |   FROM b e CROSS JOIN q WHERE e.vec_id <> 0
       |   ORDER BY score DESC, id LIMIT 10),
       | approx AS (SELECT e.vec_id AS id,
       |     CAST(floor($dot / (${norm("e.embedding")} * ${norm("q.qvec")})
       |       * 10000.0 + 0.5) AS BIGINT) AS score
       |   FROM b e JOIN q ON e.bucket = q.qbucket WHERE e.vec_id <> 0
       |   ORDER BY score DESC, id LIMIT 10)
       |SELECT count(*) AS n_exact,
       |       CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_common,
       |       CAST(CASE WHEN count(*) > 0
       |            THEN sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END)
       |                 * 1000000 // count(*)
       |            ELSE 0 END AS BIGINT) AS recall_ppm
       |FROM exact x LEFT JOIN approx a ON a.id = x.id""".stripMargin
  }

  // --------------------------------------------------------------------
  // q190 — index-shard MERGE ≡ whole-corpus build: two shard indexes
  // (doc-id parity halves, uncapped) fold via Index.merge — postings
  // union, df/cf sums, corpus scalars sum, no re-tokenization — and
  // the merged index answers the ('dup','data') search. The oracle
  // computes the search from the WHOLE corpus directly, so the gate IS
  // the merge ≡ recompute proof for the retrieval state, cross-engine
  // (the q182 contract applied to the index).
  def q190(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "documents")
    val shards = Seq(0, 1).map(par => graft.ext.Index.build(
      d.filter(pmod($"doc_id", lit(2)) === par), "text", "doc_id"))
    graft.ext.Index.merge(shards).search(Seq("dup", "data"), k = 10)
  }

  val q190Sql: String =
    s"""WITH $bm25BaseSql,
       | scored AS (
       |   SELECT t.doc_id,
       |     floor(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |              / (CAST(df AS DOUBLE) + 0.5))
       |       * (CAST(t.tf AS DOUBLE) * 2.2
       |          / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75
       |             * CAST(t.dl AS DOUBLE)
       |             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
       |       * 1000000000.0) AS s_nano
       |   FROM tf t JOIN dict USING (token) CROSS JOIN corpus
       |   WHERE t.token IN ('dup', 'data'))
       |SELECT doc_id, CAST(sum(s_nano) AS BIGINT) AS score_nano,
       |       count(*) AS n_terms
       |FROM scored GROUP BY doc_id
       |ORDER BY score_nano DESC, doc_id LIMIT 10""".stripMargin

  // --------------------------------------------------------------------
  // q191 — product-quantization ANN (VectorIndex.pqTrain/pqEncode/
  // pqSearch): m = 2 subspaces × k = 4 centroids, 2 Lloyd iterations,
  // codes searched by the integer lookup-table sum — the
  // compressed-codes rung of the ANN ladder (64 floats → 2 small ids
  // per vector; at 100 TB the code scan is what stays memory-resident).
  // The oracle unrolls the ENTIRE chain in SQL — per-subspace L2
  // k-means (q49's Lloyd-unroll technique with the same float-rounded
  // means), encode argmin (d² asc, cell asc ≡ min-struct), the query's
  // floor-micro LUT, and the exact integer distance sum — so training,
  // encoding, and search are all cross-engine gated at once.
  def q191(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
    val cb = graft.ext.VectorIndex
      .pqTrain(e, "embedding", "vec_id", m = 2, k = 4, iterations = 2)
    val codes = graft.ext.VectorIndex
      .pqEncode(e.filter($"vec_id" =!= 0), "embedding", "vec_id", cb)
    val qv = e.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray
    graft.ext.VectorIndex.pqSearch(codes, "vec_id", cb, qv, k = 10)
  }

  val q191Sql: String = {
    val m = 2; val k = 4; val iters = 2; val dsub = 32
    def l2(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), x -> (x[1] - x[2]) * (x[1] - x[2])))"
    def lloyd(j: Int, i: Int) =
      s""" s$j$i AS (SELECT sub.vec_id, c.cell, ${l2("sub.v", "c.c")} AS d2
         |          FROM sub$j sub CROSS JOIN c$j$i c),
         | a$j$i AS (SELECT vec_id, cell FROM (
         |           SELECT vec_id, cell, row_number() OVER (
         |             PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
         |           FROM s$j$i) WHERE rn = 1),
         | m$j$i AS (SELECT cell, list(x ORDER BY i) AS c FROM (
         |           SELECT a.cell, u.i,
         |                  CAST(CAST(sum(u.x) / count(*) AS REAL) AS DOUBLE) AS x
         |           FROM a$j$i a JOIN (SELECT vec_id, unnest(v) AS x,
         |                     unnest(generate_series(1, len(v))) AS i FROM sub$j) u
         |             USING (vec_id)
         |           GROUP BY a.cell, u.i) GROUP BY cell),
         | c$j${i + 1} AS (SELECT c.cell, coalesce(m.c, c.c) AS c
         |               FROM c$j$i c LEFT JOIN m$j$i m USING (cell))""".stripMargin
    val perSub = (0 until m).map { j =>
      val lo = j * dsub + 1; val hi = (j + 1) * dsub
      val blocks = (0 until iters).map(i => lloyd(j, i)).mkString(",\n")
      s""" sub$j AS (SELECT vec_id, list_slice(v, $lo, $hi) AS v FROM e),
         | c${j}0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
         |                 AS INTEGER) AS cell, v AS c
         |        FROM (SELECT vec_id, v FROM sub$j ORDER BY vec_id LIMIT $k)),
         |$blocks,
         | sf$j AS (SELECT sub.vec_id, c.cell, ${l2("sub.v", "c.c")} AS d2
         |          FROM sub$j sub CROSS JOIN c$j$iters c),
         | af$j AS (SELECT vec_id, cell FROM (
         |           SELECT vec_id, cell, row_number() OVER (
         |             PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
         |           FROM sf$j) WHERE rn = 1),
         | lut$j AS (SELECT c.cell,
         |             CAST(floor(${l2(s"list_slice(q.v, $lo, $hi)", "c.c")}
         |               * 1000000.0) AS BIGINT) AS d
         |           FROM c$j$iters c CROSS JOIN q)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id,
       |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |        FROM embeddings),
       | q AS (SELECT v FROM e WHERE vec_id = 0),
       |$perSub
       |SELECT af0.vec_id, CAST(l0.d + l1.d AS BIGINT) AS adist_micro
       |FROM af0 JOIN af1 USING (vec_id)
       |     JOIN lut0 l0 ON l0.cell = af0.cell
       |     JOIN lut1 l1 ON l1.cell = af1.cell
       |WHERE af0.vec_id <> 0
       |ORDER BY adist_micro, af0.vec_id LIMIT 10""".stripMargin
  }

  // --------------------------------------------------------------------
  // q192 — DSIR-style data selection (TrainPrep.dsirImportance): score
  // every document by its log-likelihood ratio under add-one unigram
  // models of the TARGET slice (lang='en') vs the RAW pool, exact
  // BIGINT Σ occ·λ_micro per doc, and report the top-20 most
  // target-like with their languages — 'en' docs must dominate the
  // head, and that ordering is part of the hashed result. The 100 TB
  // form hashes n-gram features into a bounded bucket space (the
  // dupSpans hashGrams pattern); string features are the oracle mode.
  def q192(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "documents")
    graft.ext.TrainPrep
      .dsirImportance(d, d.filter($"lang" === "en"), "text", "doc_id")
      .join(d.select($"doc_id", $"lang"), "doc_id")
      .select($"doc_id", $"lang", $"n_toks", $"imp_micro")
      .orderBy($"imp_micro".desc, $"doc_id")
      .limit(20)
  }

  val q192Sql: String =
    """WITH tk AS (SELECT doc_id,
      |        unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |        FROM documents),
      | rawocc AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS occ
      |        FROM tk GROUP BY 1, 2),
      | rawcnt AS (SELECT tok, CAST(sum(occ) AS BIGINT) AS cr
      |        FROM rawocc GROUP BY tok),
      | tgtcnt AS (SELECT t.tok, CAST(count(*) AS BIGINT) AS ct
      |        FROM tk t JOIN documents d ON d.doc_id = t.doc_id
      |        WHERE d.lang = 'en' GROUP BY t.tok),
      | tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
      |               CAST(count(*) AS BIGINT) AS v FROM rawcnt),
      | ttot AS (SELECT CAST(COALESCE(sum(ct), 0) AS BIGINT) AS nt
      |        FROM tgtcnt JOIN rawcnt USING (tok)),
      | lam AS (SELECT r.tok,
      |        CAST(floor((ln(CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE)
      |              / CAST(nt + v AS DOUBLE))
      |           - ln(CAST(r.cr + 1 AS DOUBLE)
      |              / CAST(nr + v AS DOUBLE))) * 1000000.0) AS BIGINT)
      |          AS lam_micro
      |        FROM rawcnt r LEFT JOIN tgtcnt t ON t.tok = r.tok
      |        CROSS JOIN tot CROSS JOIN ttot),
      | imp AS (SELECT o.doc_id, CAST(sum(o.occ) AS BIGINT) AS n_toks,
      |        CAST(sum(o.occ * l.lam_micro) AS BIGINT) AS imp_micro
      |        FROM rawocc o JOIN lam l ON l.tok = o.tok
      |        GROUP BY o.doc_id)
      |SELECT i.doc_id, d.lang, i.n_toks, i.imp_micro
      |FROM imp i JOIN documents d ON d.doc_id = i.doc_id
      |ORDER BY imp_micro DESC, i.doc_id LIMIT 20""".stripMargin

  // --------------------------------------------------------------------
  // q193 — pricing the ANN ladder: recall@10 of THREE approximate
  // rungs against the brute-force cosine top-10, in one frame —
  // single-bucket sign-LSH (4 bits), multi-probe LSH (the q135 recall
  // knob: query bucket + all Hamming-1 flips), and IVF (4 cells, 1
  // Lloyd iteration, 2 probed cells — q49's unrolled-oracle recipe,
  // deliberately small so the SQL unroll stays bounded). Each rung
  // feeds Retrieval.recallAtK; the output is the recall table a
  // curation team reads before picking its index ("is multi-probe
  // enough, or do we pay for IVF?"). All rankings are bounded top-10
  // lists; corpus-sized work stays inside the rankers.
  def q193(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
      .withColumn("bucket", VectorFns.signBucket($"embedding", 4))
    val qrow = e.filter($"vec_id" === 0)
      .select($"bucket".as("qbucket"), $"embedding".as("qvec"))
    def bp(c: org.apache.spark.sql.Column) =
      floor(c * 10000.0 + 0.5).cast("long")
    def rank(df: DataFrame): DataFrame = df
      .select($"vec_id".as("id"),
        bp(VectorFns.cosine($"embedding", $"qvec")).as("score"))
      .orderBy($"score".desc, $"id".asc).limit(10)
    val exact = rank(e.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(qrow.select($"qvec"))))
    val lsh = rank(e.join(broadcast(qrow), $"bucket" === $"qbucket")
      .filter($"vec_id" =!= 0))
    val probes = qrow
      .withColumn("flip",
        explode(array(lit(0L) +: (0 until 4).map(i => lit(1L << i)): _*)))
      .select($"qbucket".bitwiseXOR($"flip").as("pbucket"), $"qvec")
    val multi = rank(e.join(broadcast(probes), $"bucket" === $"pbucket")
      .filter($"vec_id" =!= 0))
    val cents = graft.ext.VectorIndex
      .trainCentroids(e, "embedding", k = 4, iterations = 1)
    val qvec = e.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).toArray
    val ivf = graft.ext.VectorIndex
      .search(s, graft.ext.VectorIndex.assignCells(e, "embedding", cents)
          .filter($"vec_id" =!= 0),
        "embedding", "vec_id", cents, qvec, k = 10, nProbe = 2)
      .select($"vec_id".as("id"), bp($"cos_sim").as("score"))
    def price(name: String, approx: DataFrame): DataFrame =
      graft.ext.Retrieval.recallAtK(approx, exact, "id", "score", k = 10)
        .select(lit(name).as("method"), $"n_common", $"recall_ppm")
    price("lsh_1bucket", lsh)
      .unionByName(price("lsh_multiprobe", multi))
      .unionByName(price("ivf_2probe", ivf))
      .orderBy($"method")
  }

  val q193Sql: String = {
    val dot =
      """list_sum(list_transform(list_zip(e.embedding, q.qvec),
        | x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))""".stripMargin
    val norm = (v: String) =>
      s"sqrt(list_sum(list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    val bucket = (v: String) =>
      (0 until 4).map(i =>
        s"(CASE WHEN $v[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)")
        .mkString("(", " + ", ")")
    val cos =
      s"""CAST(floor($dot / (${norm("e.embedding")} * ${norm("q.qvec")})
         | * 10000.0 + 0.5) AS BIGINT)""".stripMargin
    // q49's Lloyd unroll at k=4, 1 iteration, cosine assignment with
    // greatest(struct) tie semantics = row_number(score DESC, cell DESC)
    val cosl = (a: String, b: String) =>
      s"""(list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2]))
         |   / (sqrt(list_sum(list_transform($a, x -> x * x)))
         |      * sqrt(list_sum(list_transform($b, x -> x * x)))))""".stripMargin
    s"""WITH b AS (SELECT vec_id, embedding, ${bucket("embedding")} AS bucket
       |           FROM embeddings),
       | q AS (SELECT bucket AS qbucket, embedding AS qvec FROM b
       |       WHERE vec_id = 0),
       | exact AS (SELECT e.vec_id AS id, $cos AS score
       |   FROM b e CROSS JOIN q WHERE e.vec_id <> 0
       |   ORDER BY score DESC, id LIMIT 10),
       | lsh AS (SELECT e.vec_id AS id, $cos AS score
       |   FROM b e JOIN q ON e.bucket = q.qbucket WHERE e.vec_id <> 0
       |   ORDER BY score DESC, id LIMIT 10),
       | flips(f) AS (VALUES (0), (1), (2), (4), (8)),
       | multi AS (SELECT id, score FROM (
       |   SELECT DISTINCT e.vec_id AS id, $cos AS score
       |   FROM b e JOIN flips ON TRUE
       |        JOIN q ON e.bucket = xor(q.qbucket, flips.f)
       |   WHERE e.vec_id <> 0)
       |   ORDER BY score DESC, id LIMIT 10),
       | ev AS (SELECT vec_id,
       |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |        FROM embeddings),
       | c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
       |               AS INTEGER) AS cell, v AS c
       |        FROM (SELECT vec_id, v FROM ev ORDER BY vec_id LIMIT 4)),
       | s0 AS (SELECT ev.vec_id, c0.cell, ${cosl("ev.v", "c0.c")} AS score
       |        FROM ev CROSS JOIN c0),
       | a0 AS (SELECT vec_id, cell FROM (
       |          SELECT vec_id, cell, row_number() OVER (
       |            PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn
       |          FROM s0) WHERE rn = 1),
       | m0 AS (SELECT cell, list(x ORDER BY i) AS c FROM (
       |          SELECT a0.cell, u.i,
       |                 CAST(CAST(sum(u.x) / count(*) AS REAL) AS DOUBLE) AS x
       |          FROM a0 JOIN (SELECT vec_id, unnest(v) AS x,
       |                   unnest(generate_series(1, len(v))) AS i FROM ev) u
       |            USING (vec_id)
       |          GROUP BY a0.cell, u.i) GROUP BY cell),
       | c1 AS (SELECT c0.cell, coalesce(m0.c, c0.c) AS c
       |        FROM c0 LEFT JOIN m0 USING (cell)),
       | sf AS (SELECT ev.vec_id, c1.cell, ${cosl("ev.v", "c1.c")} AS score
       |        FROM ev CROSS JOIN c1),
       | af AS (SELECT vec_id, cell FROM (
       |          SELECT vec_id, cell, row_number() OVER (
       |            PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn
       |          FROM sf) WHERE rn = 1),
       | qv AS (SELECT v FROM ev WHERE vec_id = 0),
       | pr AS (SELECT cell FROM (
       |          SELECT c1.cell, row_number() OVER (
       |            ORDER BY ${cosl("c1.c", "qv.v")} DESC, c1.cell ASC) AS rn
       |          FROM c1 CROSS JOIN qv) WHERE rn <= 2),
       | ivf AS (SELECT e.vec_id AS id, $cos AS score
       |   FROM b e JOIN af ON af.vec_id = e.vec_id CROSS JOIN q
       |   WHERE e.vec_id <> 0 AND af.cell IN (SELECT cell FROM pr)
       |   ORDER BY score DESC, id LIMIT 10),
       | priced AS (
       |   SELECT 'lsh_1bucket' AS method,
       |     (SELECT count(*) FROM exact x JOIN lsh a ON a.id = x.id) AS n_common
       |   UNION ALL SELECT 'lsh_multiprobe',
       |     (SELECT count(*) FROM exact x JOIN multi a ON a.id = x.id)
       |   UNION ALL SELECT 'ivf_2probe',
       |     (SELECT count(*) FROM exact x JOIN ivf a ON a.id = x.id))
       |SELECT method, CAST(n_common AS BIGINT) AS n_common,
       |       CAST(n_common * 1000000 // 10 AS BIGINT) AS recall_ppm
       |FROM priced ORDER BY method""".stripMargin
  }

  // --------------------------------------------------------------------
  // q194 — pairwise overlap verification (TextDedup.longestCommonSpan):
  // candidate pairs = documents sharing at least one 8-gram (the
  // blocker), then the EXACT longest common token span per pair via
  // 5-gram diagonal gaps-and-islands — the keep/drop/quarantine number
  // a dedup policy thresholds on. Windows are keyed by
  // (pair, diagonal); the blocker's distinct-pair agg and the verify
  // joins are all keyed — nothing global anywhere.
  def q194(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "documents")
    val g8 = d
      .select($"doc_id", graft.functions.TextFns.tokens($"text").as("toks"))
      .filter(size($"toks") >= 8)
      .select($"doc_id", graft.plans.NGramExplode.of($"toks", 8))
      .select($"doc_id", $"ngram")
    val pairs = g8.as("x").join(g8.as("y"),
        $"x.ngram" === $"y.ngram" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("a"), $"y.doc_id".as("b")).distinct()
    graft.ext.TextDedup
      .longestCommonSpan(pairs, d, "text", "doc_id", k = 5)
      .orderBy($"a", $"b")
  }

  val q194Sql: String =
    """WITH tk AS (SELECT doc_id,
      |        regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents),
      | g8 AS (SELECT doc_id,
      |          list_aggr(list_slice(toks, i, i + 7), 'string_agg', ' ')
      |            AS gram
      |        FROM (SELECT doc_id, toks,
      |                unnest(generate_series(1, len(toks) - 7)) AS i
      |              FROM tk WHERE len(toks) >= 8)),
      | pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |           FROM g8 x JOIN g8 y
      |             ON x.gram = y.gram AND x.doc_id < y.doc_id),
      | g5 AS (SELECT doc_id, i AS p,
      |          list_aggr(list_slice(toks, i, i + 4), 'string_agg', ' ')
      |            AS gram
      |        FROM (SELECT doc_id, toks,
      |                unnest(generate_series(1, len(toks) - 4)) AS i
      |              FROM tk WHERE len(toks) >= 5)),
      | grid AS (SELECT p.a, p.b, ga.p AS ia, gb.p - ga.p AS d
      |          FROM pairs p
      |          JOIN g5 ga ON ga.doc_id = p.a
      |          JOIN g5 gb ON gb.doc_id = p.b AND gb.gram = ga.gram),
      | runs AS (SELECT a, b, d, ia - row_number() OVER (
      |            PARTITION BY a, b, d ORDER BY ia) AS grp
      |          FROM grid),
      | islands AS (SELECT a, b, count(*) AS run
      |             FROM runs GROUP BY a, b, d, grp),
      | lcs AS (SELECT a, b, CAST(max(run) + 4 AS BIGINT) AS lcs_tokens
      |         FROM islands GROUP BY a, b)
      |SELECT p.a, p.b, COALESCE(l.lcs_tokens, 0) AS lcs_tokens
      |FROM pairs p LEFT JOIN lcs l ON l.a = p.a AND l.b = p.b
      |ORDER BY p.a, p.b""".stripMargin

  // --------------------------------------------------------------------
  // q195 — MMR diversified retrieval (Retrieval.mmrSelect): the brute
  // cosine top-12 around probe vector 0 re-selected down to 6 by
  // maximal marginal relevance (λ = 7/10, rel and pairwise sims both
  // in cosine basis points — shared units, exact λDen-scaled integer
  // scores). The embedding table contains near-duplicate clusters, so
  // plain top-6 returns siblings; MMR's maxsim column shows exactly
  // what each pick paid for redundancy. Oracle = the greedy loop
  // unrolled (6 rounds of pool anti-join, max-sim-to-selected, 1-row
  // argmax — the q153 greedy-unroll technique).
  def q195(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qvec"))
    def bp(c: org.apache.spark.sql.Column) =
      floor(c * 10000.0 + 0.5).cast("long")
    // pin the corpus-wide top-12 ONCE: it otherwise re-executes inside
    // mmrSelect's own materialization AND on both sides of the sims
    // self-join (three full embedding scans for one 12-row list)
    val cand = e.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id".as("id"),
        bp(VectorFns.cosine($"embedding", $"qvec")).as("rel"))
      .orderBy($"rel".desc, $"id".asc).limit(12)
      .localCheckpoint()
    // sims through the operator-layer banded blocker (bands = 2 ×
    // bits = 4) — pairs the blocker misses read sim = 0 in mmrSelect
    // (the absent-pair contract); for 12 candidates this is belt-and-
    // braces, but the same call survives a 100k-row rerank pool
    val sims = graft.ext.Retrieval
      .candidateSims(e, cand, "embedding", "vec_id")
    graft.ext.Retrieval
      .mmrSelect(cand, sims, "id", "rel", k = 6, lamNum = 7, lamDen = 10)
      .orderBy($"rank")
  }

  /** The banded blocker's band-j bucket in SQL (mirrors
    * VectorFns.signBucketAt over 4 bits). */
  private def q195BucketAt(v: String, off: Int): String =
    (0 until 4).map(i =>
      s"(CASE WHEN $v[${off + i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)")
      .mkString("(", " + ", ")")

  val q195Sql: String = {
    val dot = (a: String, b: String) =>
      s"""list_sum(list_transform(list_zip($a, $b),
         | x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))""".stripMargin
    val norm = (v: String) =>
      s"sqrt(list_sum(list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    val cosbp = (a: String, b: String) =>
      s"CAST(floor(${dot(a, b)} / (${norm(a)} * ${norm(b)}) * 10000.0 + 0.5) AS BIGINT)"
    // nChosen at round r is r−1: a candidate with FEWER recorded pairs
    // than that has an absent pair contributing 0 to the max, so a
    // negative recorded max is floored — mmrSelect's absent=0 contract
    // (it never triggered under all-pairs sims; blocked sims miss
    // pairs, so the oracle must model it)
    def round(r: Int) =
      s""" pool$r AS (SELECT c.id, c.rel FROM cands c
         |          WHERE c.id NOT IN (SELECT id FROM ch${r - 1})),
         | ms$r AS (SELECT x AS id,
         |          CASE WHEN count(*) < ${r - 1} THEN greatest(max(sim), 0)
         |               ELSE max(sim) END AS ms
         |          FROM sym
         |          WHERE y IN (SELECT id FROM ch${r - 1}) GROUP BY x),
         | sc$r AS (SELECT p.id, p.rel, COALESCE(m.ms, 0) AS maxsim,
         |            7 * p.rel - 3 * COALESCE(m.ms, 0) AS score
         |          FROM pool$r p LEFT JOIN ms$r m ON m.id = p.id),
         | w$r AS (SELECT $r AS rank, id, rel, maxsim, score
         |         FROM sc$r ORDER BY score DESC, id LIMIT 1),
         | ch$r AS (SELECT id FROM ch${r - 1}
         |          UNION ALL SELECT id FROM w$r)""".stripMargin
    val rounds = (2 to 6).map(round).mkString(",\n")
    s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
       | cands AS (SELECT e.vec_id AS id,
       |     ${cosbp("e.embedding", "q.qvec")} AS rel
       |   FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
       |   ORDER BY rel DESC, id LIMIT 12),
       | cv AS (SELECT c.id, c.rel, e.embedding,
       |        ${q195BucketAt("e.embedding", 0)} AS bkt0,
       |        ${q195BucketAt("e.embedding", 4)} AS bkt1
       |        FROM cands c JOIN embeddings e ON e.vec_id = c.id),
       | pairs AS (SELECT l.id AS a, r.id AS b,
       |     ${cosbp("l.embedding", "r.embedding")} AS sim
       |   FROM cv l JOIN cv r ON l.id < r.id
       |     AND (l.bkt0 = r.bkt0 OR l.bkt1 = r.bkt1)),
       | sym AS (SELECT a AS x, b AS y, sim FROM pairs
       |         UNION ALL SELECT b, a, sim FROM pairs),
       | w1 AS (SELECT 1 AS rank, id, rel, CAST(0 AS BIGINT) AS maxsim,
       |          7 * rel AS score
       |        FROM cands ORDER BY 7 * rel DESC, id LIMIT 1),
       | ch1 AS (SELECT id FROM w1),
       |$rounds
       |SELECT CAST(rank AS BIGINT) AS rank, id, rel,
       |       CAST(maxsim AS BIGINT) AS maxsim,
       |       CAST(score AS BIGINT) AS mmr_scaled
       |FROM (SELECT * FROM w1 UNION ALL SELECT * FROM w2
       |      UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4
       |      UNION ALL SELECT * FROM w5 UNION ALL SELECT * FROM w6)
       |ORDER BY rank""".stripMargin
  }

  // --------------------------------------------------------------------
  // q196 — single-link dendrogram levels: the similarity graph cut at
  // three thresholds, with connected components at each cut — the
  // embedding-side cohesion PROFILE the way q179's coreness histogram
  // profiles the graph side ("how does the corpus agglomerate as the
  // dedup threshold loosens?"). Pair scores are computed ONCE (pinned)
  // through the OPERATOR-LAYER blocker — VectorIndex.bandedScoredPairs
  // with bands = 2 × bits = 4 and bucketCap = 1000 — so the read-out
  // query inherits semanticDedup's scale guards (per-band recall
  // 1 − (1 − p⁴)², saturated buckets capped per band) instead of the
  // round-10 single 4-bit band whose 16 buckets meant an n²/16
  // in-bucket expansion at 100× scale (the r10 `weak`). Each level
  // filters + reruns the keyed CC loop; cluster stats are keyed aggs.
  def q196(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
    val pairs = graft.ext.VectorIndex
      .bandedScoredPairs(e, "embedding", "vec_id",
        bits = 4, bands = 2, bucketCap = Some(1000L))
      .localCheckpoint()
    val nodes = e.select($"vec_id".as("id"))
    // thresholds sit astride the blocked-pair score distribution
    // (p99 ≈ 3200 bp, max ≈ 5100 at the gate SF) so the three levels
    // show REAL agglomeration — 9000/7000/5000 was all-singletons
    // The three levels are INDEPENDENT fixpoints over the same pinned
    // pair frame, and each one is a latency-bound loop of small jobs
    // (profiled: 183 jobs, task time a fraction of wall). Run them as
    // concurrent driver-side jobs (guide §2.6 — overlap independent
    // jobs so one loop's stragglers back-fill the others' idle cores);
    // each level's CC is deterministic, so concurrency cannot change a
    // row. The futures only BUILD the per-level 1-row aggregates (the
    // CC loop's internal actions run inside); the final union stays
    // lazy for the caller. The pool's threads are started here, so they
    // inherit the caller's local properties: the levels' jobs carry its
    // job group and description like the rest of the query's.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val levels = try Seq(3000L, 2000L, 1000L).map { tau => Future {
      // banded graphs are denser than the old single-band cut — long
      // chains near tau are likelier, so give propagation headroom
      // (the loop exits on convergence; extra rounds cost nothing)
      val comp = graft.ext.TextDedup.connectedComponents(
        pairs.filter($"cos_bp" >= tau), nodes, "ia", "ib", "id",
        maxRounds = 40)
      val sizes = comp.groupBy($"component").agg(count(lit(1)).as("sz"))
      sizes.agg(
        lit(tau).as("tau_bp"),
        count(lit(1)).as("n_clusters"),
        sum(when($"sz" === 1L, 1L).otherwise(0L)).as("n_singletons"),
        max($"sz").as("largest"))
    }}.map(Await.result(_, Duration.Inf)) finally pool.shutdown()
    levels.reduce(_ unionByName _).orderBy($"tau_bp".desc)
  }

  val q196Sql: String = {
    val dot =
      """list_sum(list_transform(list_zip(a.embedding, b.embedding),
        | x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))""".stripMargin
    val norm = (v: String) =>
      s"sqrt(list_sum(list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    // banded blocking (bands = 2 × bits = 4) + bucketCap = 1000, the
    // exact candidate set bandedScoredPairs produces: a pair qualifies
    // when EITHER band's bucket matches AND that band's bucket is not
    // oversized (a.ok = b.ok whenever the buckets match, so one side's
    // flag suffices)
    val bucketAt = (v: String, off: Int) =>
      (0 until 4).map(i =>
        s"(CASE WHEN $v[${off + i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)")
        .mkString("(", " + ", ")")
    def level(tau: Long) =
      s""" e$tau AS (SELECT ia AS a, ib AS b FROM pairs WHERE cos_bp >= $tau
         |        UNION SELECT ib, ia FROM pairs WHERE cos_bp >= $tau),
         | r$tau(src, dst) AS (SELECT a, b FROM e$tau
         |   UNION SELECT r.src, e.b FROM r$tau r JOIN e$tau e ON r.dst = e.a),
         | c$tau AS (SELECT v.vec_id,
         |     least(v.vec_id, coalesce(min(r.dst), v.vec_id)) AS component
         |   FROM embeddings v LEFT JOIN r$tau r ON r.src = v.vec_id
         |   GROUP BY v.vec_id),
         | z$tau AS (SELECT component, count(*) AS sz FROM c$tau
         |           GROUP BY component),
         | l$tau AS (SELECT CAST($tau AS BIGINT) AS tau_bp,
         |     count(*) AS n_clusters,
         |     CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |       AS n_singletons,
         |     CAST(max(sz) AS BIGINT) AS largest
         |   FROM z$tau)""".stripMargin
    s"""WITH RECURSIVE bk0 AS (SELECT vec_id, embedding,
       |        ${bucketAt("embedding", 0)} AS bkt0,
       |        ${bucketAt("embedding", 4)} AS bkt1 FROM embeddings),
       | c0 AS (SELECT bkt0, count(*) AS c FROM bk0 GROUP BY bkt0),
       | c1 AS (SELECT bkt1, count(*) AS c FROM bk0 GROUP BY bkt1),
       | bk AS (SELECT k.vec_id, k.embedding, k.bkt0, k.bkt1,
       |        (x0.c <= 1000) AS ok0, (x1.c <= 1000) AS ok1
       |        FROM bk0 k JOIN c0 x0 ON x0.bkt0 = k.bkt0
       |                   JOIN c1 x1 ON x1.bkt1 = k.bkt1),
       | pairs AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
       |     CAST(floor($dot / (${norm("a.embedding")} * ${norm("b.embedding")})
       |       * 10000.0 + 0.5) AS BIGINT) AS cos_bp
       |   FROM bk a JOIN bk b
       |     ON a.vec_id < b.vec_id
       |        AND ((a.ok0 AND a.bkt0 = b.bkt0)
       |          OR (a.ok1 AND a.bkt1 = b.bkt1))),
       |${level(3000L)},
       |${level(2000L)},
       |${level(1000L)}
       |SELECT * FROM l3000 UNION ALL SELECT * FROM l2000
       |UNION ALL SELECT * FROM l1000
       |ORDER BY tau_bp DESC""".stripMargin
  }

  /** Name → query function, for SparkEntry. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q183_bigram_lm" -> (q183 _),
    "q184_bloom_prune" -> (q184 _),
    "q185_rrf_hybrid" -> (q185 _),
    "q186_personalized_pagerank" -> (q186 _),
    "q187_ndcg" -> (q187 _),
    "q188_rbo" -> (q188 _),
    "q189_ann_recall" -> (q189 _),
    "q190_index_merge" -> (q190 _),
    "q191_pq_ann" -> (q191 _),
    "q192_dsir_selection" -> (q192 _),
    "q193_ann_ladder_recall" -> (q193 _),
    "q194_overlap_verify" -> (q194 _),
    "q195_mmr_diversify" -> (q195 _),
    "q196_dendrogram_levels" -> (q196 _)
  )

  /** Name → DuckDB oracle SQL, for SparkEntry. */
  val oracles: Map[String, String] = Map(
    "q183_bigram_lm" -> q183Sql,
    "q184_bloom_prune" -> q184Sql,
    "q185_rrf_hybrid" -> q185Sql,
    "q186_personalized_pagerank" -> q186Sql,
    "q187_ndcg" -> q187Sql,
    "q188_rbo" -> q188Sql,
    "q189_ann_recall" -> q189Sql,
    "q190_index_merge" -> q190Sql,
    "q191_pq_ann" -> q191Sql,
    "q192_dsir_selection" -> q192Sql,
    "q193_ann_ladder_recall" -> q193Sql,
    "q194_overlap_verify" -> q194Sql,
    "q195_mmr_diversify" -> q195Sql,
    "q196_dendrogram_levels" -> q196Sql
  )
}
