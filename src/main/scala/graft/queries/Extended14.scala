package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Round-9 batch (q161–q163) — the remaining flagship curation stages a
  * 100 TB training pipeline runs that the catalog did not yet cover:
  *
  *  - q161 duplicated-SPAN detection (substring-level exact dedup à la
  *    "Deduplicating Training Data Makes Language Models Better" —
  *    doc-level dedup misses boilerplate/templated passages shared
  *    between otherwise-distinct documents);
  *  - q162 weighted reservoir sampling (Efraimidis–Spirakis without
  *    replacement), made engine-portable with ALL-INTEGER keys via the
  *    max-of-w-uniforms identity — no transcendental functions whose
  *    last-ulp differences could flip a cross-engine tie;
  *  - q163 semantic dedup (SemDeDup-shaped): embedding near-duplicate
  *    clusters → keep one representative per cluster.
  */
object Extended14 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** First 8 hex chars of md5(expr) as BIGINT (Horner) — the DuckDB
    * rendering of the portable md5 uniform (HashSplit / Extended9). */
  private def hex8Sql(e: String): String = {
    def hexVal(i: Int) =
      s"""(CASE WHEN ascii(substr(md5($e), $i, 1)) >= 97
         | THEN ascii(substr(md5($e), $i, 1)) - 87
         | ELSE ascii(substr(md5($e), $i, 1)) - 48 END)""".stripMargin
    (1 to 8).foldLeft("CAST(0 AS BIGINT)")(
      (acc, i) => s"($acc * 16 + ${hexVal(i)})")
  }

  // --------------------------------------------------------------------
  // q161 — duplicated-span report: per document, the maximal runs of
  // tokens covered by corpus-repeated 5-grams (>= 2 occurrences
  // anywhere, self-repetition included). TextDedup.dupSpans does the
  // work: gram+position explode → global gram counts (map-side
  // combinable hash agg) → per-doc gaps-and-islands merge on a window
  // KEYED by doc_id. Output is the per-doc rollup a curation dashboard
  // wants: span count, duplicated token mass, longest span, doc length.
  //
  // Scale: three shuffles (gram agg, semi join back, doc window), all
  // keyed; nothing global. At 100 TB the gram key would be xxhash64'd
  // (documented in the operator) — string grams here keep the gate
  // collision-free and portable.
  def q161(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val spans = graft.ext.TextDedup.dupSpans(docs, "text", "doc_id",
      k = 5, minCount = 2L)
    spans.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum($"span_tokens").as("dup_tokens"),
        max($"span_tokens").cast("long").as("max_span"))
      .join(docs.select($"doc_id",
        size(TextFns.tokens($"text")).cast("long").as("n_tokens")), "doc_id")
      .select($"doc_id", $"n_spans", $"dup_tokens", $"max_span", $"n_tokens")
      .orderBy($"doc_id")
  }

  val q161Sql: String =
    raw"""WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
       |            FROM documents),
       | g0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 4),
       |          i -> struct_pack(pos := i,
       |                 g := array_to_string(list_slice(toks, i, i + 4), ' ')))) AS e
       |        FROM tk WHERE len(toks) >= 5),
       | g AS (SELECT doc_id, CAST(e.pos AS INTEGER) AS pos, e.g AS g FROM g0),
       | dup AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2),
       | h AS (SELECT doc_id, pos FROM g WHERE g IN (SELECT g FROM dup)),
       | lg AS (SELECT doc_id, pos,
       |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS pp FROM h),
       | fl AS (SELECT doc_id, pos,
       |          CASE WHEN pp IS NULL OR pos - pp > 5 THEN 1 ELSE 0 END AS nw FROM lg),
       | isl AS (SELECT doc_id, pos,
       |           sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS sid FROM fl),
       | sp AS (SELECT doc_id, sid, min(pos) AS s, max(pos) + 4 AS e
       |        FROM isl GROUP BY 1, 2),
       | agg AS (SELECT doc_id, count(*) AS n_spans,
       |           CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
       |           CAST(max(e - s + 1) AS BIGINT) AS max_span FROM sp GROUP BY 1)
       |SELECT a.doc_id, n_spans, dup_tokens, max_span,
       |       CAST(len(tk.toks) AS BIGINT) AS n_tokens
       |FROM agg a JOIN tk ON tk.doc_id = a.doc_id ORDER BY a.doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q162 — weighted reservoir sample, 5 docs per source, weight = a
  // length tier in 1..4 (least(1 + n_chars div 150, 4)). The A-ES key
  // u^(1/w) has CDF x^w — identical in law to max(w iid uniforms) — so
  // integer weights trade the float pow/ln for w md5 draws and an
  // integer max: bit-for-bit reproducible in ANY engine, immune to
  // libm last-ulp order flips. Expansion is Σw <= 4n rows; the top-k
  // window is keyed by source.
  def q162(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
      .select($"doc_id", $"source",
        least(lit(1L) + expr("n_chars div 150"), lit(4L)).as("w"))
    graft.ext.TrainPrep.weightedSample(docs, "doc_id", "source", "w", k = 5)
      .orderBy($"source", $"rk")
  }

  val q162Sql: String = {
    val key = hex8Sql("CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)")
    s"""WITH w AS (SELECT doc_id, source, least(1 + n_chars // 150, 4) AS w
       |           FROM documents),
       | e AS (SELECT doc_id, source, w,
       |         unnest(generate_series(1, w)) AS j FROM w),
       | h AS (SELECT doc_id, source, w, max($key) AS key
       |       FROM e GROUP BY 1, 2, 3),
       | r AS (SELECT source,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY key DESC, doc_id ASC) AS rk,
       |         doc_id, w, key FROM h)
       |SELECT source, rk, doc_id, w, key FROM r WHERE rk <= 5
       |ORDER BY source, rk""".stripMargin
  }

  // --------------------------------------------------------------------
  // q163 — semantic dedup (SemDeDup-shaped): sign-bucket LSH blocks the
  // pair space, in-bucket pairs with round(cos·10⁴) >= 4200 are
  // near-duplicates, connected components cluster them, and the
  // minimum-id member of each cluster is kept. Reported per label:
  // corpus size, kept, dropped. The threshold comparison happens AFTER
  // half-up rounding (q32 technique) so both engines decide identically
  // on the same double.
  //
  // Scale: pair volume is bounded by bucket occupancy (bits is the
  // dial); CC is the O(diameter) keyed-join loop, its state pinned per
  // round (ScaleGate.materialize); the final agg is one keyed rollup.
  def q163(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    graft.ext.VectorIndex
      .semanticDedup(emb, "embedding", "vec_id", tauBp = 4200, bits = 4)
      .join(emb.select($"vec_id", $"label"), "vec_id")
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"keep", 0L).otherwise(1L)).as("n_dropped"))
      .orderBy($"label")
  }

  val q163Sql: String = {
    def normSql(c: String) =
      s"sqrt(list_sum(list_transform($c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    val cos =
      s"""(list_sum(list_transform(list_zip(a.embedding, b2.embedding),
         |   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
         | (${normSql("a.embedding")} * ${normSql("b2.embedding")}))""".stripMargin
    s"""WITH RECURSIVE b AS (SELECT vec_id, embedding,
       |   (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
       | + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
       | + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
       | + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
       | FROM embeddings),
       | pairs AS (SELECT a.vec_id AS ia, b2.vec_id AS ib FROM b a JOIN b b2
       |           ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
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

  /** Name → query function, for SparkEntry. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q161_dup_spans" -> (q161 _),
    "q162_weighted_sample" -> (q162 _),
    "q163_semantic_dedup" -> (q163 _)
  )

  /** Name → DuckDB oracle SQL, for SparkEntry. */
  val oracles: Map[String, String] = Map(
    "q161_dup_spans" -> q161Sql,
    "q162_weighted_sample" -> q162Sql,
    "q163_semantic_dedup" -> q163Sql
  )
}
