package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 third batch (q151–q152) — string-similarity and graph
  * analytics:
  *
  *  - q151 edit-distance join (levenshtein ≤ 2) with the q-gram COUNT
  *    filter as the complete candidate generator — the
  *    blocking-without-false-negatives pattern for entity resolution;
  *  - q152 triangle counting under degree-ordered orientation — the
  *    classic bounded-fan-out distributed graph pattern
  *    (Schank/Suri-Vassilvitskii), over the part co-order graph.
  */
object Extended11 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // --------------------------------------------------------------------
  // q151 — edit-distance self-join over distinct part names: all pairs
  // with levenshtein ≤ 2 (entity-resolution dedup for dimension
  // strings). The naive form is |names|² levenshtein calls — the
  // oracle runs exactly that. The scale plan is df-RAREST-PREFIX
  // candidate generation (TextDedup.edJoinCandidates, the Ed-Join
  // discipline): lev ≤ 2 destroys ≤ k·q = 4 positional bigrams, so
  // any qualifying pair must collide within each string's 5
  // globally-rarest tagged bigrams — those 5 are the ONLY join keys.
  // (The previous all-grams form joined on EVERY bigram and applied
  // the count bound after the shuffle: Σ df² candidate volume on a
  // Zipf gram key — the r13 verdict's named scale-killer. Prefixes
  // exclude exactly the hot grams, so candidate volume stays
  // near-linear; measured in Stress `gramblock`.) Candidates verify
  // with one levenshtein call each; a |len| band-filter runs first.
  //
  // Completeness: the prefix-filter lemma (overlap ≥ max(|A|,|B|)−4
  // ⇒ prefix collision) bites only when the longer string has ≥ 5
  // bigrams (len ≥ 6) — shorter strings (a bounded universe) pair
  // all-vs-all in the union branch, same as before.
  def q151(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val names = t(s, dir, "part").select($"p_name".as("name")).distinct()
      .withColumn("len", length($"name"))
    val cand = graft.ext.TextDedup.edJoinCandidates(
        names, "name", "name", names, "name", "name",
        q = 2, destroyBudget = 4, selfPairs = true)
      .select($"a_str".as("name_a"), $"b_str".as("name_b"))
    // the overlap bound is vacuous when max(len) <= 5 — that stratum
    // blocks on the FastSS deletion neighborhood (D_<=2 join keys:
    // <= C(5, <=2) = 16 per string, per-key fan-in bounded by
    // |alphabet|*len) instead of all-pairs, so a short-name-heavy
    // corpus pays O(n*len^4), never O(n^2) (r14 minor finding)
    val short = names.filter($"len" <= 5).select($"name")
      .withColumn("v",
        explode(graft.ext.TextDedup.deletionVariants($"name", 2)))
    val shortPairs = short.as("a")
      .join(short.as("b"), $"a.v" === $"b.v" && $"a.name" < $"b.name")
      .select($"a.name".as("name_a"), $"b.name".as("name_b"))
    cand.union(shortPairs).distinct()
      .filter(abs(length($"name_a") - length($"name_b")) <= 2)
      .filter(levenshtein($"name_a", $"name_b") <= 2)
      .select($"name_a", $"name_b",
        levenshtein($"name_a", $"name_b").cast("long").as("lev"))
      .orderBy($"name_a", $"name_b")
  }

  val q151Sql: String =
    """WITH n AS (SELECT DISTINCT p_name AS name FROM part)
      |SELECT a.name AS name_a, b.name AS name_b,
      |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev
      |FROM n a JOIN n b ON a.name < b.name
      |WHERE levenshtein(a.name, b.name) <= 2
      |ORDER BY name_a, name_b""".stripMargin

  // --------------------------------------------------------------------
  // q152 — triangle counting over the part co-order graph (parts
  // appearing in the same order = the market-basket projection).
  // Direct wedge join fan-out is Σ deg² — one hub part detonates it.
  // Degree-ordered ORIENTATION (each edge points from the
  // (degree, id)-smaller endpoint to the larger) bounds every node's
  // OUT-degree to O(√m), so the wedge join (out-neighbors × out-
  // neighbors per node) is O(m^1.5) worst-case — the
  // Schank/Suri-Vassilvitskii MapReduce bound. A triangle is a wedge
  // (y, z) out of x whose closing edge (y, z) is itself oriented —
  // counted exactly once, so the plain a<b<c oracle total matches.
  //
  // Scale: 3 shuffles (edge distinct, degree agg, wedge join) + one
  // semi join against the oriented edge set; orientation is the
  // entire trick — no node ever fans out more than √m wedges.
  // The counting core lives in ext/Graph.triangleCount (library
  // operator with per-round pinning + injective struct(degree, id)
  // orientation keys); this query builds the co-order edge set and
  // composes the summary row.
  def q152(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = t(s, dir, "lineitem")
    // canonical by construction (sorted per-order item set, i < j
    // pairs, distinct) via the one-exchange group-collect shape
    // (Graph.coOccurrenceEdges — r18: replaces the op self-join, which
    // paid a (o,p)-distinct exchange + the join's o exchange for the
    // same edges); checkpointed here because n_edges below reuses it
    // alongside the operator's own pass
    val e = graft.ext.Graph.coOccurrenceEdges(
        li.select($"l_orderkey".as("o"), $"l_partkey".as("p")), "o", "p")
      .localCheckpoint()
    val nTri = graft.ext.Graph.triangleCount(e, assumeCanonical = true)
    li.agg(countDistinct($"l_partkey").as("n_parts"))
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .crossJoin(nTri)
      .select($"n_parts", $"n_edges", $"n_triangles")
  }

  val q152Sql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      |            FROM lineitem),
      | e AS (SELECT DISTINCT a.p AS pa, b.p AS pb
      |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p)
      |SELECT (SELECT count(DISTINCT p) FROM op) AS n_parts,
      |       (SELECT count(*) FROM e) AS n_edges,
      |       (SELECT count(*) FROM e e1
      |        JOIN e e2 ON e1.pb = e2.pa
      |        JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb) AS n_triangles
      |""".stripMargin

  // --------------------------------------------------------------------
  // q153 — greedy max-coverage data selection (3 unrolled rounds): pick
  // the document covering the most yet-uncovered 3-gram shingles, then
  // repeat against the grown covered set — the classic (1−1/e)-greedy
  // for "smallest subset that spans the corpus's phrase space", a
  // data-efficiency selection step for curation. Fully declarative: no
  // driver collect — each round's winner is a 1-row frame, exclusions
  // are anti joins against it, the covered set is a semi join. Same
  // fixed-round unroll technique as q49 (k-means) and q134 (PageRank);
  // deterministic argmax tie-break (gain DESC, doc_id ASC).
  //
  // Scale: the (doc, shingle) set materializes once; each round is one
  // anti join + one keyed agg + a 1-row top; winners/covered flow as
  // broadcast-size frames.
  def q153(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Round outputs are tiny (1-row winners, ≤|doc| covered shingles)
    // but feed MULTIPLE later subtrees — the operator pins each round
    // once (4.4 → 3.7 s steady at sf0.1; the rest is the genuinely
    // iterative ~2 passes per round over the shingle table). The loop,
    // early-stop, and the pinning live in TrainPrep.greedyCover;
    // this query is its 3-round instance.
    val pairs = t(s, dir, "documents")
      .select($"doc_id", explode(graft.plans.TextExpressions.distinctNgrams(
        graft.functions.TextFns.tokens($"text"), 3)).as("tok"))
    graft.ext.TrainPrep.greedyCover(pairs, "doc_id", "tok", rounds = 3)
      .select($"round", $"id".as("doc_id"), $"gain")
      .orderBy($"round")
  }

  val q153Sql: String = {
    val ng = DocOps.ngramsSql(3)
    s"""WITH tk AS (SELECT DISTINCT doc_id, unnest(list_distinct($ng)) AS tok
       |            FROM documents),
       | r1 AS (SELECT doc_id, count(*) AS gain FROM tk GROUP BY doc_id
       |        ORDER BY gain DESC, doc_id LIMIT 1),
       | c1 AS (SELECT DISTINCT tok FROM tk JOIN r1 USING (doc_id)),
       | r2 AS (SELECT tk.doc_id, count(*) AS gain FROM tk
       |        LEFT JOIN c1 ON tk.tok = c1.tok
       |        WHERE c1.tok IS NULL
       |          AND tk.doc_id NOT IN (SELECT doc_id FROM r1)
       |        GROUP BY tk.doc_id ORDER BY gain DESC, doc_id LIMIT 1),
       | c2 AS (SELECT tok FROM c1
       |        UNION SELECT tk.tok FROM tk JOIN r2 USING (doc_id)),
       | r3 AS (SELECT tk.doc_id, count(*) AS gain FROM tk
       |        LEFT JOIN c2 ON tk.tok = c2.tok
       |        WHERE c2.tok IS NULL
       |          AND tk.doc_id NOT IN (SELECT doc_id FROM r1
       |                                UNION SELECT doc_id FROM r2)
       |        GROUP BY tk.doc_id ORDER BY gain DESC, doc_id LIMIT 1)
       |SELECT CAST(1 AS BIGINT) AS round, doc_id, gain FROM r1
       |UNION ALL SELECT CAST(2 AS BIGINT), doc_id, gain FROM r2
       |UNION ALL SELECT CAST(3 AS BIGINT), doc_id, gain FROM r3
       |ORDER BY round""".stripMargin
  }

  // --------------------------------------------------------------------
  // q154 — exact WEIGHTED median (quantity-weighted median line price
  // per return flag): the robust-statistics step percentile() (q41)
  // doesn't cover — every unit of quantity is one vote. Definition
  // pinned integer-exact: smallest cents value whose cumulative weight
  // reaches half the total (2·cum ≥ tot — cross-multiplied, no float).
  //
  // Scale: weights aggregate per (flag, cents) FIRST (map-side
  // combinable — the distinct-value domain, not the row count, hits
  // the window), then one windowed cumsum per flag and a min. No
  // global sort, no percentile over raw rows.
  def q154(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val perVal = t(s, dir, "lineitem")
      .select($"l_returnflag".as("flag"),
        floor($"l_extendedprice" * 100 + 0.5).cast("long").as("cents"),
        floor($"l_quantity" + 0.5).cast("long").as("w"))
      .groupBy($"flag", $"cents").agg(sum($"w").as("w"))
    val byFlag = Window.partitionBy($"flag")
    perVal
      .withColumn("cum", sum($"w").over(byFlag.orderBy($"cents")))
      .withColumn("tot", sum($"w").over(byFlag))
      .filter($"cum" * 2 >= $"tot")
      .groupBy($"flag")
      .agg(min($"cents").as("median_cents"), max($"tot").as("total_w"))
      .orderBy($"flag")
  }

  val q154Sql: String =
    """WITH v AS (SELECT l_returnflag AS flag,
      |  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
      |  CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2),
      | c AS (SELECT flag, cents, w,
      |         sum(w) OVER (PARTITION BY flag ORDER BY cents) AS cum,
      |         sum(w) OVER (PARTITION BY flag) AS tot
      |       FROM v)
      |SELECT flag, CAST(min(cents) AS BIGINT) AS median_cents,
      |       CAST(max(tot) AS BIGINT) AS total_w
      |FROM c WHERE cum * 2 >= tot GROUP BY flag ORDER BY flag""".stripMargin

  // --------------------------------------------------------------------
  // q155 — deterministic global sort-rank WITHOUT a single-partition
  // window (operators.GlobalRank): `row_number() OVER (ORDER BY …)`
  // with no PARTITION BY funnels the whole dataset through one task —
  // the pattern every "assign global example ids before sharding"
  // pipeline hits at 100 TB. The scalable form: range-partition on the
  // sort key, sort within partitions, zip with the per-partition
  // offsets (two passes, no global funnel). Partition BOUNDARIES are
  // sampled (nondeterministic) but the RANK is total-order-determined,
  // which is exactly what the oracle (a plain windowed row_number)
  // certifies. Summary-aggregated so the gate checks every rank
  // without a 5k-row dump: per source, sum/min/max of rank and the
  // rank⋅doc_id dot product (any rank flip changes it).
  def q155(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ranked = graft.operators.GlobalRank.withRank(
      t(s, dir, "documents").select($"doc_id", $"source", $"n_chars"),
      Seq($"n_chars", $"doc_id"), rankCol = "rank")
    ranked.groupBy($"source")
      .agg(count(lit(1)).as("n"), sum($"rank").as("rank_sum"),
        min($"rank").as("rank_min"), max($"rank").as("rank_max"),
        sum($"rank" * $"doc_id").as("rank_dot_id"))
      .orderBy($"source")
  }

  val q155Sql: String =
    """WITH r AS (SELECT doc_id, source,
      |  row_number() OVER (ORDER BY n_chars, doc_id) AS rank
      |  FROM documents)
      |SELECT source, count(*) AS n,
      |       CAST(sum(rank) AS BIGINT) AS rank_sum,
      |       CAST(min(rank) AS BIGINT) AS rank_min,
      |       CAST(max(rank) AS BIGINT) AS rank_max,
      |       CAST(sum(rank * doc_id) AS BIGINT) AS rank_dot_id
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** Name → query function, for SparkEntry. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q151_edit_distance_join" -> (q151 _),
    "q152_triangle_count" -> (q152 _),
    "q153_greedy_set_cover" -> (q153 _),
    "q154_weighted_median" -> (q154 _),
    "q155_global_rank" -> (q155 _)
  )

  /** Name → DuckDB oracle SQL, for SparkEntry. */
  val oracles: Map[String, String] = Map(
    "q151_edit_distance_join" -> q151Sql,
    "q152_triangle_count" -> q152Sql,
    "q153_greedy_set_cover" -> q153Sql,
    "q154_weighted_median" -> q154Sql,
    "q155_global_rank" -> q155Sql
  )
}
