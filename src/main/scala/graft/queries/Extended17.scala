package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 batch (q179–q182) — the library shelves grown this round,
  * each gated through its operator:
  *
  *  - q179 full core decomposition (Graph.coreness, h-index fixpoint) —
  *    the cohesion PROFILE where q160 answered one k;
  *  - q180 banded sign-LSH semantic dedup (VectorIndex.semanticDedup
  *    bands > 1) — the q125 recall knob applied to embeddings;
  *  - q181 BM25 search through the built inverted index (ext/Index
  *    build → search, capped postings, broadcast corpus stats);
  *  - q182 profile-shard merge + unigram drift (Profile.tokenCounts /
  *    mergeTokenCounts / unigramDrift) — the corpus profile maintained
  *    WITHOUT re-scanning text, gated against a direct recompute.
  */
object Extended17 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // --------------------------------------------------------------------
  // q179 — full core decomposition on the (1/7-slice) part co-order
  // graph: every node labeled with its core number via Graph.coreness
  // (h-index iteration run to FIXPOINT — h⁰ = degree, each round every
  // node takes the H-index of its neighbors' values; Lü et al. 2016
  // prove the fixpoint IS the coreness). Reported as the coreness
  // histogram with an id-sum checksum so any single node moving core
  // changes the hash. The oracle unrolls h-index rounds (extra rounds
  // are identity once converged — the q160 unroll contract).
  //
  // Scale: within the graph bound the rounds run on the driver after
  // one edge collect (ProfileQuery at sf0.01 on 4 cores: 18 jobs /
  // 1.22 s with a job per round, 8 jobs / 0.43 s). Past it, per round
  // one keyed join (neighbor list pinned, partitioned on the join key)
  // + one node-KEYED window + one keyed agg, state pinned per round.
  // One loop replaces degeneracy × peel-depth kCore runs.
  def q179(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // one-exchange group-collect edge build (Graph.coOccurrenceEdges,
    // r18); PINNED because coreness's nbr union reads the edge set
    // twice — unpinned, the whole build ran once per union branch
    val e = graft.ext.Graph.coOccurrenceEdges(
      t(s, dir, "lineitem")
        .filter($"l_partkey" % 7 === 0)
        .select($"l_orderkey".as("o"), $"l_partkey".as("p")), "o", "p")
      .localCheckpoint()
    graft.ext.Graph.coreness(e, assumeCanonical = true)
      .groupBy($"coreness")
      .agg(count(lit(1)).as("n_nodes"), sum($"node").as("id_sum"))
      .orderBy($"coreness")
  }

  /** h-index-to-fixpoint oracle: `rounds` unrolled H-operator rounds —
    * must be ≥ the convergence depth at the gate's scale factor; extra
    * rounds are identity once converged. */
  private def corenessUnrolledSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
             |            FROM lineitem WHERE l_partkey % 7 = 0),
             | e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
             |        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
             | nbr AS MATERIALIZED (SELECT u AS node, v AS nb FROM e
             |        UNION ALL SELECT v, u FROM e),
             | h0 AS MATERIALIZED (SELECT node, count(*) AS h FROM nbr
             |        GROUP BY node)""".stripMargin
    for (r <- 1 to rounds) {
      sb ++= s""",
               | h$r AS MATERIALIZED (
               |  SELECT node, max(CASE WHEN val >= rn THEN rn END) AS h FROM (
               |    SELECT n.node, h.h AS val,
               |           row_number() OVER (PARTITION BY n.node
               |                              ORDER BY h.h DESC) AS rn
               |    FROM nbr n JOIN h${r - 1} h ON h.node = n.nb)
               |  GROUP BY node)""".stripMargin
    }
    sb ++= s"""
              |SELECT CAST(h AS BIGINT) AS coreness, count(*) AS n_nodes,
              |       CAST(sum(node) AS BIGINT) AS id_sum
              |FROM h$rounds GROUP BY h ORDER BY coreness""".stripMargin
    sb.toString
  }

  val q179Sql: String = corenessUnrolledSql(rounds = 12)

  // --------------------------------------------------------------------
  // q180 — BANDED sign-LSH semantic dedup: bands = 2 × bits = 4 (sign
  // slices over components 1–4 and 5–8), so vectors pair when EITHER
  // band's 4 signs agree — recall 1 − (1 − p⁴)² per true pair vs q163's
  // single-band p⁴, and bucketCap loss (none here) would degrade per
  // band instead of all-or-nothing. Same cosine gate (round half-up at
  // basis points, q32 technique) and CC clustering as q163; reported
  // per label.
  //
  // Scale: the banded exchange carries (band, bkt, id) only — vectors
  // rejoin AFTER the candidate set is distinct on (ia, ib), so a pair
  // colliding in both bands pays the dim-sized cosine once and the
  // band fan-out never ships embedding arrays.
  def q180(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    graft.ext.VectorIndex
      .semanticDedup(emb, "embedding", "vec_id", tauBp = 4200,
        bits = 4, bands = 2)
      .join(emb.select($"vec_id", $"label"), "vec_id")
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"keep", 0L).otherwise(1L)).as("n_dropped"))
      .orderBy($"label")
  }

  val q180Sql: String = {
    def bktSql(off: Int) = (0 until 4).map(i =>
      s"(CASE WHEN embedding[${off + i + 1}] >= 0 THEN ${1 << i} ELSE 0 END)")
      .mkString(" + ")
    def normSql(c: String) =
      s"sqrt(list_sum(list_transform($c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    val cos =
      s"""(list_sum(list_transform(list_zip(a.embedding, b2.embedding),
         |   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
         | (${normSql("a.embedding")} * ${normSql("b2.embedding")}))""".stripMargin
    s"""WITH RECURSIVE b AS (SELECT vec_id, embedding,
       |   ${bktSql(0)} AS bkt0,
       |   ${bktSql(4)} AS bkt1
       | FROM embeddings),
       | pairs AS (SELECT a.vec_id AS ia, b2.vec_id AS ib FROM b a JOIN b b2
       |           ON (a.bkt0 = b2.bkt0 OR a.bkt1 = b2.bkt1)
       |              AND a.vec_id < b2.vec_id
       |           WHERE floor($cos * 10000 + 0.5) >= 4200),
       | edges AS (SELECT ia AS a, ib AS b FROM pairs
       |           UNION SELECT ib, ia FROM pairs),
       | reach(src, dst) AS (SELECT a, b FROM edges
       |   UNION SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       | comp AS (SELECT v.vec_id,
       |            least(v.vec_id, coalesce(min(r.dst), v.vec_id)) AS component
       |          FROM embeddings v LEFT JOIN reach r ON r.src = v.vec_id
       |          GROUP BY v.vec_id)
       |SELECT e.label, count(*) AS n_vecs,
       |  CAST(sum(CASE WHEN c.vec_id = c.component THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  CAST(sum(CASE WHEN c.vec_id = c.component THEN 0 ELSE 1 END) AS BIGINT)
       |    AS n_dropped
       |FROM comp c JOIN embeddings e ON e.vec_id = c.vec_id
       |GROUP BY e.label ORDER BY e.label""".stripMargin
  }

  // --------------------------------------------------------------------
  // q181 — BM25 retrieval through the BUILT index (ext/Index): build
  // postings capped at 64 docs/token (WindowGroupLimit — map tasks
  // forward ≤ 64 rows per token) with TRUE df/cf computed before the
  // cap, then search 3 terms, top-15 by floor-nano BM25 (q111's exact
  // scoring; ties doc-id asc). The oracle replays build+search in SQL —
  // cap included — so the capped-recall contract itself is gated.
  def q181(s: SparkSession, dir: String): DataFrame = {
    val idx = graft.ext.Index.build(t(s, dir, "documents"),
      "text", "doc_id", postingCap = Some(64))
    idx.search(Seq("data", "model", "the"), k = 15)
  }

  val q181Sql: String =
    """WITH d AS (SELECT doc_id,
      |        regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents),
      | dd AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d),
      | corpus AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dd),
      | tf AS (SELECT token, doc_id, dl, count(*) AS tf
      |        FROM (SELECT doc_id, dl, unnest(toks) AS token FROM dd)
      |        GROUP BY 1, 2, 3),
      | dict AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      | capped AS (SELECT token, doc_id, dl, tf FROM
      |        (SELECT tf.*, row_number() OVER (PARTITION BY token
      |                ORDER BY doc_id) AS rn FROM tf)
      |        WHERE rn <= 64),
      | scored AS (
      |   SELECT c.doc_id,
      |     floor(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
      |              / (CAST(df AS DOUBLE) + 0.5))
      |       * (CAST(c.tf AS DOUBLE) * 2.2
      |          / (CAST(c.tf AS DOUBLE) + 1.2 * (0.25 + 0.75
      |             * CAST(c.dl AS DOUBLE)
      |             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
      |       * 1000000000.0) AS s_nano
      |   FROM capped c JOIN dict USING (token) CROSS JOIN corpus
      |   WHERE c.token IN ('data', 'model', 'the'))
      |SELECT doc_id, CAST(sum(s_nano) AS BIGINT) AS score_nano,
      |       count(*) AS n_terms
      |FROM scored GROUP BY doc_id
      |ORDER BY score_nano DESC, doc_id LIMIT 15""".stripMargin

  // --------------------------------------------------------------------
  // q182 — profile-shard merge + unigram drift: the per-source token
  // count frames of TWO corpus shards (doc_id parity) merge by count
  // sum (Profile.mergeTokenCounts — the IncrementalAgg algebra on the
  // token-distinct frame, no text re-scan), and the per-source
  // total-variation drift vs the corpus mix (Profile.unigramDrift,
  // floored-ppm integer TVD — the q169 doctrine over the TOKEN domain)
  // reads off the merged frame. The oracle recomputes from the whole
  // corpus directly, so the gate IS the merge ≡ recompute proof,
  // cross-engine.
  def q182(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "documents")
    val shards = Seq(0, 1).map(p =>
      graft.ext.Profile.tokenCounts(
        d.filter(pmod($"doc_id", lit(2)) === p), "text", "source"))
    val merged = graft.ext.Profile.mergeTokenCounts(shards)
    graft.ext.Profile.unigramDrift(merged)
      .orderBy($"grp")
  }

  val q182Sql: String =
    """WITH c AS (SELECT CAST(source AS VARCHAR) AS grp, token,
      |        CAST(count(*) AS BIGINT) AS c FROM (
      |        SELECT source,
      |          unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      |        FROM documents) GROUP BY 1, 2),
      | n AS (SELECT sum(c) AS n FROM c),
      | q AS (SELECT token, sum(c) * 1000000 // (SELECT n FROM n) AS q_ppm
      |        FROM c GROUP BY token),
      | g AS (SELECT grp, sum(c) AS ng FROM c GROUP BY grp),
      | grid AS (SELECT q.token, q.q_ppm, g.grp, g.ng
      |        FROM q CROSS JOIN g),
      | j AS (SELECT grid.grp, grid.ng,
      |        ABS(COALESCE(c.c, 0) * 1000000 // grid.ng - grid.q_ppm) AS gap
      |        FROM grid LEFT JOIN c
      |          ON c.grp = grid.grp AND c.token = grid.token)
      |SELECT grp, CAST(max(ng) AS BIGINT) AS n_tokens,
      |       CAST(sum(gap) // 2 AS BIGINT) AS tvd_ppm
      |FROM j GROUP BY grp ORDER BY grp""".stripMargin

  /** Name → query function, for SparkEntry. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q179_coreness" -> (q179 _),
    "q180_semantic_dedup_banded" -> (q180 _),
    "q181_bm25_index_search" -> (q181 _),
    "q182_profile_drift_merge" -> (q182 _)
  )

  /** Name → DuckDB oracle SQL, for SparkEntry. */
  val oracles: Map[String, String] = Map(
    "q179_coreness" -> q179Sql,
    "q180_semantic_dedup_banded" -> q180Sql,
    "q181_bm25_index_search" -> q181Sql,
    "q182_profile_drift_merge" -> q182Sql
  )
}
