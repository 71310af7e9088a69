package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.HashSplit

/** Round-8 batch (q141–q146) — curation / labeling / temporal operators
  * a large-scale training pipeline runs downstream of dedup:
  *
  *  - q141 leakage-safe split: near-dup CLUSTERS (not docs) are the
  *    split unit, so no train/test pair is a near-duplicate;
  *  - q142 majority-vote label aggregation (multi-annotator / LLM-judge
  *    vote consolidation) with deterministic tie-breaks;
  *  - q143 interval-overlap self-join via grid cells — the range-join
  *    pattern Spark has no native operator for;
  *  - q144 vocabulary coverage / OOV rate per source against the
  *    corpus top-100 vocab;
  *  - q145 asymmetric containment join (doc-inside-doc near-dup, the
  *    case symmetric Jaccard misses);
  *  - q146 half-life time-decayed engagement, all-integer.
  */
object Extended9 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** First 8 hex chars of md5(expr) as BIGINT (Horner) — the DuckDB
    * rendering of [[HashSplit.bucket]]'s portable md5 bucket. */
  private def hex8Sql(e: String): String = {
    def hexVal(i: Int) =
      s"""(CASE WHEN ascii(substr(md5(CAST($e AS VARCHAR)), $i, 1)) >= 97
         | THEN ascii(substr(md5(CAST($e AS VARCHAR)), $i, 1)) - 87
         | ELSE ascii(substr(md5(CAST($e AS VARCHAR)), $i, 1)) - 48 END)""".stripMargin
    (1 to 8).foldLeft("CAST(0 AS BIGINT)")(
      (acc, i) => s"($acc * 16 + ${hexVal(i)})")
  }

  // --------------------------------------------------------------------
  // q141 — leakage-safe train/val/test split: hash-split by near-dup
  // COMPONENT, not by document. A doc-keyed split (q45) puts two
  // near-duplicates on opposite sides of the train/test wall — the
  // classic eval-contamination bug; splitting on the connected-component
  // label (q61's clusters) makes that impossible by construction:
  // every member of a cluster shares the component id, hence the split.
  // Pipeline: LSH pairs → connected components → md5(component) bucket.
  //
  // Scale: the split assignment is one scalar expression on the CC
  // output (already computed for dedup); the summary is one keyed agg.
  def q141(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val pairs = graft.ext.TextDedup
      .lshCandidates(docs, "text", "doc_id", ngram = 3, numHashes = 4,
        bands = 1)
    graft.ext.TextDedup
      .connectedComponents(pairs, docs.select($"doc_id"), nodeCol = "doc_id")
      .select($"node", $"component",
        HashSplit.assign($"component",
          Seq("train" -> 8, "val" -> 1, "test" -> 1)).as("split"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"component").as("n_components"),
        sum($"node").as("id_sum"))
      .orderBy($"split")
  }

  val q141Sql: String = {
    val ng = DocOps.ngramsSql(3)
    def chunk(i: Int) = DocOps.minhashChunkSql(ng, i)
    s"""WITH RECURSIVE sig AS (
       | SELECT doc_id,
       |  ${chunk(0)} || '|' || ${chunk(1)} || '|' ||
       |  ${chunk(2)} || '|' || ${chunk(3)} AS band
       | FROM documents),
       | pairs AS (SELECT a.doc_id AS ia, b.doc_id AS ib
       |           FROM sig a JOIN sig b
       |             ON a.band = b.band AND a.doc_id < b.doc_id),
       | edges AS (SELECT ia AS a, ib AS b FROM pairs
       |           UNION SELECT ib, ia FROM pairs),
       | reach(src, dst) AS (
       |   SELECT a, b FROM edges
       |   UNION
       |   SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       | comp AS (
       |   SELECT d.doc_id AS node,
       |          least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS component
       |   FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
       |   GROUP BY d.doc_id),
       | b AS (SELECT node, component,
       |         ${hex8Sql("component")} % 10 AS bucket FROM comp)
       |SELECT CASE WHEN bucket < 8 THEN 'train'
       |            WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
       |       count(*) AS n_docs,
       |       count(DISTINCT component) AS n_components,
       |       CAST(sum(node) AS BIGINT) AS id_sum
       |FROM b GROUP BY 1 ORDER BY split""".stripMargin
  }

  // --------------------------------------------------------------------
  // q142 — majority-vote label aggregation: N annotators (or LLM
  // judges) vote a categorical label per item; consolidate to one
  // winner with a DETERMINISTIC tie-break (max count, then
  // lexicographically smallest label) plus an integer agreement rate.
  // The Spark argmax is min(struct(-cnt, vote)) — a single hash
  // aggregate with partial combine, no window sort over the votes.
  //
  // Scale: two keyed aggs ((item,vote) then item), both map-side
  // combinable; no row ever holds more than one (item,vote) count.
  def q142(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select(($"event_id" % 500).as("item"), $"event_type".as("vote"))
      .groupBy($"item", $"vote").agg(count(lit(1)).as("cnt"))
      .groupBy($"item")
      .agg(
        min(struct((-$"cnt").as("neg"), $"vote".as("v"))).as("m"),
        sum($"cnt").as("n_votes"),
        count(lit(1)).as("n_options"))
      .select(
        $"item", $"m.v".as("winner"), (-$"m.neg").as("win_votes"),
        $"n_votes", $"n_options",
        expr("(0 - m.neg) * 1000000 div n_votes").as("agreement_ppm"))
      .orderBy($"item")
  }

  val q142Sql: String =
    """WITH c AS (SELECT event_id % 500 AS item, event_type AS vote,
      |             count(*) AS cnt
      |           FROM events GROUP BY 1, 2),
      | m AS (SELECT item, max(cnt) AS maxc, sum(cnt) AS n_votes,
      |              count(*) AS n_options
      |       FROM c GROUP BY item),
      | w AS (SELECT c.item, min(c.vote) AS winner
      |       FROM c JOIN m ON c.item = m.item AND c.cnt = m.maxc
      |       GROUP BY c.item)
      |SELECT w.item AS item, w.winner, m.maxc AS win_votes,
      |       CAST(m.n_votes AS BIGINT) AS n_votes, m.n_options,
      |       CAST(m.maxc * 1000000 // m.n_votes AS BIGINT) AS agreement_ppm
      |FROM w JOIN m ON w.item = m.item ORDER BY w.item""".stripMargin

  // --------------------------------------------------------------------
  // q143 — interval-overlap self-join via time-grid cells: find every
  // pair of overlapping error intervals. Spark has no range-join
  // operator, and the naive non-equi self-join is a cartesian
  // (BNLJ, |n|² comparisons — exactly what the oracle runs). The scale
  // plan: explode each interval into the HOUR cells it spans, equi-join
  // on the cell (a real shuffle key), and keep a pair only in the cell
  // where its overlap STARTS — the canonical-cell trick that replaces a
  // global distinct with a scalar predicate.
  //
  // Scale: candidate volume = per-cell concurrency², tracking actual
  // temporal density, never |intervals|²; the cell width is the knob
  // (match it to median interval length).
  def q143(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val iv = t(s, dir, "events")
      .filter($"event_type" === "error" && $"event_id" % 7 === 0)
      .select($"event_id".as("id"), unix_timestamp($"ts").as("st"))
      .withColumn("en", $"st" + ($"id" % 120 + 5) * 60)
    val cells = iv.withColumn("cell",
      explode(sequence(floor($"st" / 3600), floor($"en" / 3600))))
    cells.as("a").join(cells.as("b"),
        $"a.cell" === $"b.cell" && $"a.id" < $"b.id" &&
        $"a.st" <= $"b.en" && $"b.st" <= $"a.en" &&
        $"a.cell" === floor(greatest($"a.st", $"b.st") / 3600))
      .select($"a.id".as("id_a"), $"b.id".as("id_b"),
        (least($"a.en", $"b.en") - greatest($"a.st", $"b.st"))
          .as("overlap_sec"))
      .orderBy($"id_a", $"id_b")
  }

  val q143Sql: String =
    """WITH iv AS (
      |  SELECT event_id AS id,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS st,
      |         CAST(floor(epoch(ts)) AS BIGINT)
      |           + (event_id % 120 + 5) * 60 AS en
      |  FROM events WHERE event_type = 'error' AND event_id % 7 = 0)
      |SELECT a.id AS id_a, b.id AS id_b,
      |       least(a.en, b.en) - greatest(a.st, b.st) AS overlap_sec
      |FROM iv a JOIN iv b
      |  ON a.id < b.id AND a.st <= b.en AND b.st <= a.en
      |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------------
  // q144 — vocabulary coverage / OOV rate: per source, what fraction of
  // token occurrences fall inside the corpus top-100 vocabulary — the
  // tokenizer-fit signal curation tracks per data source. The vocab is
  // driver-small by construction (top-k), so it broadcasts; coverage is
  // exact integer ppm.
  //
  // Scale: one token-keyed agg (the q93 heavy-hitter skew note applies:
  // stopword keys dominate — partial combine absorbs them), a top-k,
  // one broadcast semi-ish join, one source-keyed agg.
  def q144(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = t(s, dir, "documents")
      .select($"source", explode(TextFns.tokens($"text")).as("tok"))
    val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"tok").limit(100)
      .select($"tok", lit(1L).as("iv"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce($"iv", lit(0L))).as("in_vocab"))
      .select($"source", $"n_tokens", $"in_vocab",
        expr("in_vocab * 1000000 div n_tokens").as("coverage_ppm"),
        expr("1000000 - in_vocab * 1000000 div n_tokens").as("oov_ppm"))
      .orderBy($"source")
  }

  val q144Sql: String = {
    val toks = DocOps.tokensSql
    s"""WITH tk AS (SELECT source, unnest($toks) AS tok FROM documents),
       | vocab AS (SELECT tok FROM tk GROUP BY tok
       |           ORDER BY count(*) DESC, tok LIMIT 100),
       | j AS (SELECT tk.source,
       |         CASE WHEN vocab.tok IS NULL THEN 0 ELSE 1 END AS iv
       |       FROM tk LEFT JOIN vocab ON tk.tok = vocab.tok)
       |SELECT source, count(*) AS n_tokens,
       |       CAST(sum(iv) AS BIGINT) AS in_vocab,
       |       CAST(sum(iv) * 1000000 // count(*) AS BIGINT) AS coverage_ppm,
       |       CAST(1000000 - sum(iv) * 1000000 // count(*) AS BIGINT)
       |         AS oov_ppm
       |FROM j GROUP BY source ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------------
  // q145 — asymmetric containment join: |A ∩ B| / |A| ≥ 4/5 finds docs
  // near-CONTAINED in another (quote farms, boilerplate wrappers,
  // doc-inside-doc) — pairs symmetric Jaccard (q138) structurally
  // misses when |B| ≫ |A|. Prefix-filter adapted to containment: only
  // the inner side needs a prefix (its ⌈n/5⌉+1... rarest shingles, df
  // order); any qualifying pair must collide between A's prefix and
  // B's FULL posting list. Verification is the exact integer test
  // 5·|∩| ≥ 4·|A| via the codegen'd intersect count.
  //
  // Scale: candidate volume = Σ_{A-prefix shingles} df(shingle); the
  // prefix takes each doc's RAREST shingles, so the posting lists
  // joined against are the short ones — df-bounded like q138, not
  // corpus-bounded.
  // (Implementation lives in TextDedup.containmentJoin — the reusable
  // operator with the dfCap saturated-corpus guard and pinned state;
  // the length-filter revert note moved there with it.)
  def q145(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ext.TextDedup
      .containmentJoin(t(s, dir, "documents"), "text", "doc_id",
        ngram = 3, simNum = 4, simDen = 5)
      .orderBy($"doc_in", $"doc_out")
  }

  val q145Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, list_distinct(${DocOps.ngramsSql(3)}) AS toks
       |  FROM documents)
       |SELECT a.doc_id AS doc_in, b.doc_id AS doc_out,
       |  CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter,
       |  CAST(len(a.toks) AS BIGINT) AS n_in
       |FROM d a JOIN d b ON a.doc_id <> b.doc_id
       |WHERE 5 * len(list_intersect(a.toks, b.toks)) >= 4 * len(a.toks)
       |ORDER BY doc_in, doc_out""".stripMargin

  // --------------------------------------------------------------------
  // q146 — half-life time-decayed engagement score: per user, sum of
  // event values with weight 1/2^(age_weeks) relative to the corpus
  // max timestamp. ALL integer: cents = floor(value·100 + 0.5) (one
  // correctly-rounded IEEE multiply, identical cross-engine), decay is
  // an arithmetic right-shift — both engines' >>/shiftright are the
  // same two's-complement operation, so no rounding-mode divergence
  // (unlike integer division of negatives).
  //
  // Scale: one scalar-subquery broadcast (the anchor) + one keyed agg.
  def q146(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
    val anchor = ev.agg(max(unix_timestamp($"ts")).as("anchor"))
    ev.select($"user_id", unix_timestamp($"ts").as("et"),
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
      .crossJoin(broadcast(anchor))
      .withColumn("wk",
        least(($"anchor" - $"et") / lit(604800L), lit(40L)).cast("int"))
      .withColumn("decayed", expr("shiftright(cents, wk)"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), sum($"cents").as("raw_cents"),
        sum($"decayed").as("decayed_cents"))
      .orderBy($"user_id")
  }

  val q146Sql: String =
    """WITH a AS (SELECT CAST(floor(epoch(max(ts))) AS BIGINT) AS anchor
      |           FROM events),
      | e AS (SELECT user_id,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |         least((a.anchor - CAST(floor(epoch(ts)) AS BIGINT)) // 604800,
      |               40) AS wk
      |       FROM events, a)
      |SELECT user_id, count(*) AS n_events,
      |       CAST(sum(cents) AS BIGINT) AS raw_cents,
      |       CAST(sum(cents >> CAST(wk AS INTEGER)) AS BIGINT)
      |         AS decayed_cents
      |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Name → query function, for SparkEntry. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q141_leakage_safe_split" -> (q141 _),
    "q142_majority_vote" -> (q142 _),
    "q143_interval_overlap_join" -> (q143 _),
    "q144_vocab_coverage" -> (q144 _),
    "q145_containment_join" -> (q145 _),
    "q146_time_decay_score" -> (q146 _)
  )

  /** Name → DuckDB oracle SQL, for SparkEntry. */
  val oracles: Map[String, String] = Map(
    "q141_leakage_safe_split" -> q141Sql,
    "q142_majority_vote" -> q142Sql,
    "q143_interval_overlap_join" -> q143Sql,
    "q144_vocab_coverage" -> q144Sql,
    "q145_containment_join" -> q145Sql,
    "q146_time_decay_score" -> q146Sql
  )
}
