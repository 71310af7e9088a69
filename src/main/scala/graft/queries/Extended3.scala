package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFns, TopKLong, VectorFns}

/** Round-3 extension queries — the remaining training-data-pipeline
  * surface: corpus repetition quality (Gopher-style), benchmark
  * decontamination, many-to-many KNN join, inverted index construction,
  * GROUPING SETS, text normalization, int8 embedding quantization,
  * sequence packing, explicit cartesian products, and sparse
  * bag-of-words cosine via term-partitioned dot products.
  *
  * Every query is one declarative plan. Floating-point outputs use the
  * IEEE-stable `floor(x*10^n + 0.5)/10^n` rounding (both engines
  * evaluate it on the identical double — see q27's note); cross-doc
  * accumulations that feed a rounded output are kept INTEGER-exact so
  * partial-aggregation order can never flip a digit.
  */
object Extended3 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Shared DuckDB SQL fragments (mirrors DocOps' token derivation). */
  private val tokensSql = """regexp_split_to_array(trim(text), '\s+')"""
  private def ngramsSql(n: Int): String =
    s"""list_transform(
       | generate_series(1, greatest(len($tokensSql) - ${n - 1}, 1)),
       | i -> array_to_string(list_slice($tokensSql, i, i + ${n - 1}), ' '))""".stripMargin
  private val dotSql =
    """list_sum(list_transform(list_zip(e.embedding, q.qvec),
      | x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))""".stripMargin
  private def normSql(v: String) =
    s"sqrt(list_sum(list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

  // --------------------------------------------------------------------
  // q79 — repetition quality (the Gopher/C4-style filters): per document,
  // the duplicate-token fraction, most-frequent-token fraction, and
  // most-frequent-bigram fraction. Catches degenerate boilerplate /
  // looping text before it poisons a training mix. Shape: explode +
  // two-level hash agg, shuffle key = doc_id — fully partition-parallel
  // at any corpus size (no per-doc driver logic, no UDFs).
  def q79(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val tokStats = docs
      .select($"doc_id", explode(TextFns.tokens($"text")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"), count(lit(1)).as("n_distinct"),
        max($"c").as("top_cnt"))
    val biStats = docs
      .withColumn("toks", TextFns.tokens($"text"))
      // native generator (plans.NGramExplode): streams shingles without
      // materializing the intermediate bigram array per row
      .select($"doc_id", graft.plans.NGramExplode.of($"toks", 2))
      .select($"doc_id", $"ngram".as("bg"))
      .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(max($"c").as("top_bg_cnt"), sum($"c").as("n_bigrams"))
    def frac(num: org.apache.spark.sql.Column,
        den: org.apache.spark.sql.Column) =
      floor(num.cast("double") / den * 10000 + lit(0.5)) / 10000
    tokStats.join(biStats, Seq("doc_id"))
      .select($"doc_id", $"n_tokens",
        frac($"n_tokens" - $"n_distinct", $"n_tokens").as("dup_token_frac"),
        frac($"top_cnt", $"n_tokens").as("top_token_frac"),
        frac($"top_bg_cnt", $"n_bigrams").as("top_bigram_frac"))
      .orderBy($"doc_id")
  }

  val q79Sql: String = {
    val bg = ngramsSql(2)
    s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
       | tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
       | td AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |        count(*) AS n_distinct, max(c) AS top_cnt FROM tc GROUP BY 1),
       | bgu AS (SELECT doc_id, unnest($bg) AS bg FROM documents),
       | bc AS (SELECT doc_id, bg, count(*) AS c FROM bgu GROUP BY 1, 2),
       | bd AS (SELECT doc_id, max(c) AS top_bg_cnt,
       |        CAST(sum(c) AS BIGINT) AS n_bigrams FROM bc GROUP BY 1)
       |SELECT td.doc_id AS doc_id, n_tokens,
       | floor(CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens * 10000 + 0.5)
       |   / 10000 AS dup_token_frac,
       | floor(CAST(top_cnt AS DOUBLE) / n_tokens * 10000 + 0.5)
       |   / 10000 AS top_token_frac,
       | floor(CAST(top_bg_cnt AS DOUBLE) / n_bigrams * 10000 + 0.5)
       |   / 10000 AS top_bigram_frac
       |FROM td JOIN bd ON td.doc_id = bd.doc_id ORDER BY td.doc_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // q80 — benchmark decontamination: flag training docs sharing 4-gram
  // shingles with a held-out benchmark set (here: doc_id % 25 == 0).
  // The benchmark side is tiny by construction → broadcast, so the scan
  // of the 100 TB training side never shuffles; output is proportional
  // to contamination, not corpus size. This is the standard eval-leak
  // sweep every LLM data pipeline runs before training.
  def q80(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = t(s, dir, "documents")
      .withColumn("toks", TextFns.tokens($"text"))
      .select($"doc_id",
        explode(graft.plans.TextExpressions.distinctNgrams($"toks", 4)).as("sh"))
    val bench = sh.filter($"doc_id" % 25 === 0)
      .select($"doc_id".as("bench_id"), $"sh")
    val train = sh.filter($"doc_id" % 25 =!= 0)
      .select($"doc_id".as("train_id"), $"sh")
    train.join(broadcast(bench), Seq("sh"))
      .groupBy($"train_id", $"bench_id")
      .agg(count(lit(1)).as("n_shared_shingles"))
      .orderBy($"train_id", $"bench_id")
  }

  val q80Sql: String = {
    val sh = s"list_distinct(${ngramsSql(4)})"
    s"""WITH s AS (SELECT doc_id, unnest($sh) AS sh FROM documents)
       |SELECT a.doc_id AS train_id, b.doc_id AS bench_id,
       |       count(*) AS n_shared_shingles
       |FROM s a JOIN s b ON a.sh = b.sh
       |WHERE a.doc_id % 25 <> 0 AND b.doc_id % 25 = 0
       |GROUP BY 1, 2 ORDER BY train_id, bench_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // q81 — KNN join (many-to-many top-k): for each query vector, its k=3
  // nearest candidates by cosine. The query side broadcasts (it is the
  // small side by definition in retrieval workloads); ranking runs as a
  // per-query-partition window — at 10^9 candidates the scan is
  // embarrassingly parallel and only (query, candidate, sim) survivors
  // shuffle into the rank. Ties break on neighbor_id for determinism.
  def q81(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val scored = e.filter($"vec_id" >= 5)
      .crossJoin(broadcast(q))
      .select($"query_id", $"vec_id".as("neighbor_id"),
        (floor(VectorFns.cosine($"embedding", $"qvec") * 10000 + lit(0.5))
          / 10000).as("cos_sim"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cos_sim".desc, $"neighbor_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .orderBy($"query_id", $"rank")
  }

  val q81Sql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
       |           FROM embeddings WHERE vec_id < 5),
       | scored AS (
       |   SELECT q.query_id, e.vec_id AS neighbor_id,
       |          floor($dotSql / (${normSql("e.embedding")} *
       |            ${normSql("q.qvec")}) * 10000 + 0.5) / 10000 AS cos_sim
       |   FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 5),
       | ranked AS (
       |   SELECT query_id, neighbor_id, cos_sim,
       |          row_number() OVER (PARTITION BY query_id
       |            ORDER BY cos_sim DESC, neighbor_id) AS rank
       |   FROM scored)
       |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // --------------------------------------------------------------------
  // q82 — inverted index build: term → document frequency + the sorted
  // posting list. One explode + one hash agg, shuffle key = term; the
  // posting list is sorted INSIDE the aggregate (array_sort after
  // collect_list) so no per-term window is needed. At corpus scale the
  // posting payload would go to a bucketed store keyed by term — the
  // plan shape here is exactly that writer.
  def q82(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .withColumn("toks", TextFns.tokens($"text"))
      .select($"doc_id", explode(array_distinct($"toks")).as("term"))
      .groupBy($"term")
      .agg(count(lit(1)).as("df"),
        array_join(
          transform(array_sort(collect_list($"doc_id")), _.cast("string")),
          ",").as("postings"))
      .orderBy($"term")
  }

  val q82Sql: String =
    s"""WITH d AS (SELECT DISTINCT doc_id, unnest($tokensSql) AS term
       |           FROM documents)
       |SELECT term, count(*) AS df,
       |       string_agg(doc_id, ',' ORDER BY doc_id) AS postings
       |FROM d GROUP BY term ORDER BY term""".stripMargin

  // --------------------------------------------------------------------
  // q83 — GROUPING SETS (the general form of q40's rollup / q52's cube):
  // three explicit granularities in ONE Expand + hash-agg pass over the
  // scan — at 100 TB this reads the facts once instead of three times.
  // Exercises the spark.sql SQL surface over the registered views.
  def q83(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n, round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), ())
        |ORDER BY status, priority""".stripMargin)
  }

  val q83Sql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |       coalesce(o_orderpriority, 'ALL') AS priority,
      |       count(*) AS n, round(sum(o_totalprice), 2) AS revenue
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |                        (o_orderstatus), ())
      |ORDER BY status, priority""".stripMargin

  // --------------------------------------------------------------------
  // q84 — canonical text normalization: lowercase, strip non-alnum,
  // collapse whitespace — then fingerprint the normal form. The
  // normalized md5 is the join key for cross-snapshot / cross-crawl
  // exact dedup (q18 on steroids); pure per-row codegen'd scalar work.
  def q84(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val norm = trim(regexp_replace(
      regexp_replace(lower($"text"), "[^a-z0-9\\s]", ""), "\\s+", " "))
    t(s, dir, "documents")
      .select($"doc_id", md5(norm).as("norm_fp"),
        length(norm).cast("long").as("norm_len"),
        substring(norm, 1, 40).as("norm_head"))
      .orderBy($"doc_id")
  }

  val q84Sql: String =
    """WITH n AS (SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
      |       '\s+', ' ', 'g')) AS norm
      |  FROM documents)
      |SELECT doc_id, md5(norm) AS norm_fp,
      |       CAST(length(norm) AS BIGINT) AS norm_len,
      |       substr(norm, 1, 40) AS norm_head
      |FROM n ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q85 — int8 symmetric quantization of embeddings (the storage format
  // every billion-vector index uses): per-vector scale = max|x|/127,
  // q_i = clamp(round(x_i/scale)), plus reconstruction error. All
  // higher-order array functions over the vector column — per-row
  // scalar work, no shuffle. round() is floor(x+0.5) (half-up toward
  // +inf) so both engines agree on negative components too.
  def q85(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = transform($"embedding", x => x.cast("double"))
    val e = t(s, dir, "embeddings")
      .withColumn("v", v)
      .withColumn("scale",
        when(array_max(transform($"v", abs(_))) === 0, lit(1.0))
          .otherwise(array_max(transform($"v", abs(_))) / 127.0))
    def quant(x: org.apache.spark.sql.Column, sc: org.apache.spark.sql.Column) =
      greatest(least(floor(x / sc + lit(0.5)), lit(127.0)), lit(-127.0))
    e.select($"vec_id",
        (floor($"scale" * 1e6 + lit(0.5)) / 1e6).as("scale_r"),
        (floor(array_max(transform($"v",
            x => abs(quant(x, $"scale") * $"scale" - x))) * 1e6 + lit(0.5))
          / 1e6).as("max_abs_err"),
        aggregate($"v", lit(0L),
          (acc, x) => acc + quant(x, $"scale").cast("long")).as("qsum"))
      .orderBy($"vec_id")
  }

  val q85Sql: String = {
    val q = "greatest(least(floor(x / scale + 0.5), 127), -127)"
    s"""WITH v AS (SELECT vec_id,
       |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |   FROM embeddings),
       | s AS (SELECT vec_id, v,
       |   CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN 1.0
       |        ELSE list_max(list_transform(v, x -> abs(x))) / 127.0
       |   END AS scale FROM v)
       |SELECT vec_id,
       | floor(scale * 1000000 + 0.5) / 1000000 AS scale_r,
       | floor(list_max(list_transform(v, x -> abs($q * scale - x)))
       |   * 1000000 + 0.5) / 1000000 AS max_abs_err,
       | CAST(list_sum(list_transform(v, x -> $q)) AS BIGINT) AS qsum
       |FROM s ORDER BY vec_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // q86 — sequence packing: assign documents (in doc_id order, per
  // source shard) to fixed token-budget batches by cumulative-sum
  // integer division — the one-window-pass, streaming-friendly packing
  // a tokenizer pipeline feeds to trainers. Partitioned by `source`, so
  // the window never concentrates the corpus on one task; a real
  // deployment keys the window by its shard column exactly like this.
  def q86(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.ext.TrainPrep
      .pack(t(s, dir, "documents"), "doc_id", "source", "text",
        tokenCap = 512)
      .groupBy($"source", $"batch_id")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("batch_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"source", $"batch_id")
  }

  val q86Sql: String =
    """WITH d AS (SELECT doc_id, source,
      |   CAST(ceil(length(regexp_replace(text, '\s+', '', 'g')) / 4.0)
      |     AS BIGINT) AS toks
      |   FROM documents),
      | c AS (SELECT doc_id, source, toks,
      |   coalesce(sum(toks) OVER (PARTITION BY source ORDER BY doc_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |   FROM d)
      |SELECT source, CAST(cum_before // 512 AS BIGINT) AS batch_id, count(*) AS n_docs,
      |       CAST(sum(toks) AS BIGINT) AS batch_tokens,
      |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM c GROUP BY 1, 2 ORDER BY source, batch_id""".stripMargin

  // --------------------------------------------------------------------
  // q87 — explicit cartesian product (completes the join-type
  // inventory): region × nation with a derived column. Both sides are
  // dimension-sized; Spark plans BroadcastNestedLoopJoin — the only
  // sane physical strategy for an unconditioned cross join. Never
  // cross-join two fact tables; that is what the LSH bucketing in
  // q20/q32 exists to avoid.
  def q87(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "region").select($"r_name")
      .crossJoin(t(s, dir, "nation").select($"n_name"))
      .select($"r_name", $"n_name",
        (length($"r_name") + length($"n_name")).as("key_len"))
      .orderBy($"r_name", $"n_name")
  }

  val q87Sql: String =
    """SELECT r_name, n_name,
      |       CAST(length(r_name) + length(n_name) AS INTEGER) AS key_len
      |FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""".stripMargin

  // --------------------------------------------------------------------
  // q88 — sparse bag-of-words cosine between adjacent doc pairs via
  // term-partitioned dot products: the distributed sparse-vector
  // similarity kernel (tf vectors never materialize densely; the dot
  // product is a shuffle join on term + integer-exact partial sums).
  // Dots and squared norms stay BIGINT until the final division, so
  // aggregation order cannot perturb the rounded output. Contrast with
  // q21 (set Jaccard) and q32 (dense embedding cosine).
  def q88(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tf = t(s, dir, "documents")
      .select($"doc_id", explode(TextFns.tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val norms = tf.groupBy($"doc_id")
      .agg(sqrt(sum($"tf" * $"tf").cast("double")).as("nrm"))
    val dots = tf.as("a")
      .join(tf.as("b"),
        col("b.term") === col("a.term") &&
          col("b.doc_id") === col("a.doc_id") + 1)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
    dots
      .join(norms.select($"doc_id".as("doc_a"), $"nrm".as("nrm_a")), "doc_a")
      .join(norms.select($"doc_id".as("doc_b"), $"nrm".as("nrm_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        (floor($"dot".cast("double") / ($"nrm_a" * $"nrm_b") * 10000
          + lit(0.5)) / 10000).as("cos_sim"))
      .orderBy($"doc_a")
  }

  val q88Sql: String =
    s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS term FROM documents),
       | tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       | nrm AS (SELECT doc_id, sqrt(CAST(sum(tf * tf) AS DOUBLE)) AS nrm
       |         FROM tf GROUP BY 1),
       | dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |            CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
       |          FROM tf a JOIN tf b
       |            ON b.term = a.term AND b.doc_id = a.doc_id + 1
       |          GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  floor(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) * 10000 + 0.5)
       |    / 10000 AS cos_sim
       |FROM dots JOIN nrm na ON na.doc_id = doc_a
       |          JOIN nrm nb ON nb.doc_id = doc_b
       |ORDER BY doc_a""".stripMargin

  // --------------------------------------------------------------------
  // q89 — domain-mix downsampling (data mixing): compute per-source
  // token totals, target the smallest source's budget, and
  // deterministically keep each doc with probability target/source_toks
  // via an md5 bucket on doc_id — the engine/run/cluster-stable sampling
  // every training-mix pipeline needs (re-running on a different
  // cluster keeps EXACTLY the same docs). Rates are derived from data
  // in the same plan (broadcast of the tiny per-source aggregate); the
  // corpus-side pass stays shuffle-free beyond one groupBy(source).
  def q89(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "documents")
      .select($"doc_id", $"source",
        TextFns.approxBpeTokenCount($"text").as("toks"))
    val per = d.groupBy($"source").agg(sum($"toks").as("src_toks"))
    val target = per.agg(min($"src_toks").as("target"))
    val rated = per.crossJoin(broadcast(target))
      .select($"source", $"src_toks",
        least(lit(1.0), $"target".cast("double") / $"src_toks").as("rate"))
    // uniform deterministic u in [0,1): first 8 hex chars of md5(doc_id)
    val u = conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
      .cast("long").cast("double") / 4294967296.0
    d.join(broadcast(rated), Seq("source"))
      .withColumn("keep", u < $"rate")
      .groupBy($"source")
      .agg(first($"src_toks").as("src_toks"),
        (floor(first($"rate") * 1e6 + lit(0.5)) / 1e6).as("rate_r"),
        count(lit(1)).as("n_docs"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
        coalesce(sum(when($"keep", $"toks")), lit(0L)).as("kept_toks"))
      .orderBy($"source")
  }

  val q89Sql: String = {
    def hexVal(i: Int) =
      s"""(CASE WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) >= 97
         | THEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 87
         | ELSE ascii(substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 48 END)""".stripMargin
    val hex8 = (1 to 8).foldLeft("CAST(0 AS BIGINT)")(
      (acc, i) => s"($acc * 16 + ${hexVal(i)})")
    s"""WITH d AS (SELECT doc_id, source,
       |   CAST(ceil(length(regexp_replace(text, '\\s+', '', 'g')) / 4.0)
       |     AS BIGINT) AS toks,
       |   CAST($hex8 AS DOUBLE) / 4294967296.0 AS u
       |   FROM documents),
       | per AS (SELECT source, CAST(sum(toks) AS BIGINT) AS src_toks
       |         FROM d GROUP BY 1),
       | rated AS (SELECT source, src_toks,
       |   least(1.0, CAST((SELECT min(src_toks) FROM per) AS DOUBLE) / src_toks)
       |     AS rate FROM per)
       |SELECT d.source, r.src_toks,
       |  floor(r.rate * 1000000 + 0.5) / 1000000 AS rate_r,
       |  count(*) AS n_docs,
       |  CAST(sum(CASE WHEN d.u < r.rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(coalesce(sum(CASE WHEN d.u < r.rate THEN d.toks END), 0)
       |    AS BIGINT) AS kept_toks
       |FROM d JOIN rated r ON d.source = r.source
       |GROUP BY 1, 2, 3 ORDER BY d.source""".stripMargin
  }

  // --------------------------------------------------------------------
  // q90 — typed UDAF (graft.functions.TopKLong, Aggregator[IN,BUF,OUT]):
  // exact top-3 order values per status as a bounded-buffer aggregate.
  // The buffer caps at k values through partial AND final aggregation —
  // shuffle O(groups×k); the window-rank equivalent re-sorts every row.
  def q90(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val top3 = udaf(TopKLong(3))
    t(s, dir, "orders")
      .select($"o_orderstatus",
        floor($"o_totalprice").cast("long").as("cents"))
      .groupBy($"o_orderstatus")
      .agg(array_join(transform(top3($"cents"), _.cast("string")), ",")
        .as("top3_prices"))
      .orderBy($"o_orderstatus")
  }

  val q90Sql: String =
    """SELECT o_orderstatus,
      |  array_to_string(list_slice(
      |    list(CAST(floor(o_totalprice) AS BIGINT)
      |         ORDER BY CAST(floor(o_totalprice) AS BIGINT) DESC),
      |    1, 3), ',') AS top3_prices
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // --------------------------------------------------------------------
  // q91 — large-star/small-star connected components under the gate:
  // the O(log n)-round CC variant (TextDedup.connectedComponentsStar)
  // over the same LSH candidate pairs as q61, checked against the same
  // recursive-CTE transitive-closure oracle — gate-proof that both CC
  // algorithms compute identical clusters.
  def q91(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val pairs = graft.ext.TextDedup
      .lshCandidates(docs, "text", "doc_id", ngram = 3, numHashes = 4,
        bands = 1)
    graft.ext.TextDedup
      .connectedComponentsStar(pairs, docs.select($"doc_id"),
        nodeCol = "doc_id")
      .orderBy($"node")
  }

  val q91Sql: String = DocOps.oracles("q61_dedup_clusters")

  // --------------------------------------------------------------------
  // q92 — time-weighted average (irregular time series → TWA per user):
  // interval weights from lead(ts), weighted sums in DECIMAL so the
  // value is EXACT regardless of partial-aggregation order (double
  // accumulation order would differ between engines); only the final
  // division is floating point. One shuffle (the per-user window).
  def q92(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    t(s, dir, "events")
      // tolerate TIMESTAMP_NTZ inputs (DuckDB-written parquet): the tz
      // offset cancels in the dt difference — same posture as Sessionize
      .withColumn("ts", $"ts".cast("timestamp"))
      .withColumn("next_ts", lead($"ts", 1).over(w))
      .filter($"next_ts".isNotNull)
      .select($"user_id",
        (unix_micros($"next_ts") - unix_micros($"ts")).as("dt_us"),
        $"value".cast("decimal(18,6)").as("v"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum($"v" * $"dt_us").as("wv"), sum($"dt_us").as("wt"))
      .select($"user_id", $"n_intervals",
        (floor($"wv".cast("double") / $"wt".cast("double") * 1e6 + lit(0.5))
          / 1e6).as("twa"))
      .orderBy($"user_id")
  }

  val q92Sql: String =
    """WITH x AS (
      |  SELECT user_id,
      |    epoch_us(lead(ts) OVER w) - epoch_us(ts) AS dt_us,
      |    CAST(value AS DECIMAL(18,6)) AS v
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      | g AS (SELECT user_id, count(*) AS n_intervals,
      |         sum(v * dt_us) AS wv, CAST(sum(dt_us) AS BIGINT) AS wt
      |       FROM x WHERE dt_us IS NOT NULL GROUP BY 1)
      |SELECT user_id, n_intervals,
      |  floor(CAST(wv AS DOUBLE) / CAST(wt AS DOUBLE) * 1000000 + 0.5)
      |    / 1000000 AS twa
      |FROM g ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------------
  // q93 — heavy-hitter diagnosis: per-key share of total traffic, top
  // 10 — the query you run BEFORE picking a salting strategy (q65/q66
  // are the mitigation; this is the detector). Total is a broadcast
  // 1-row aggregate; the share division is exact-integer-derived.
  def q93(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
    val tot = ev.agg(count(lit(1)).as("total"))
    ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select($"event_type", $"n",
        (floor($"n".cast("double") / $"total" * 1e6 + lit(0.5)) / 1e6)
          .as("share"))
      .orderBy($"n".desc, $"event_type")
      .limit(10)
  }

  val q93Sql: String =
    """SELECT event_type, count(*) AS n,
      |  floor(CAST(count(*) AS DOUBLE) /
      |    (SELECT count(*) FROM events) * 1000000 + 0.5) / 1000000 AS share
      |FROM events GROUP BY event_type
      |ORDER BY n DESC, event_type LIMIT 10""".stripMargin

  // --------------------------------------------------------------------
  // q94 — z-order clustering stats (graft.operators.ZOrder): Morton
  // values over (user_id, event bucket), then per-z-range rectangles.
  // Each z-range covers a TIGHT (x, y) box — exactly why z-sorted files
  // prune on either dimension's min-max stats, where a lexicographic
  // (x, y) sort leaves the y extent of every file full-width. The curve
  // is shift/mask arithmetic (codegen'd, engine-reproducible).
  def q94(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bits = 8
    val ev = t(s, dir, "events")
      .select($"event_id",
        ($"user_id" % 256).as("x"),
        ($"event_id" % 256).as("y"))
      .withColumn("z", graft.operators.ZOrder.zvalue(Seq($"x", $"y"), bits))
    ev.withColumn("z_range", expr("z div 4096"))
      .groupBy($"z_range")
      .agg(count(lit(1)).as("n"),
        min($"x").as("x_min"), max($"x").as("x_max"),
        min($"y").as("y_min"), max($"y").as("y_max"))
      .orderBy($"z_range")
  }

  val q94Sql: String = {
    // bit b of v => floor(v / 2^b) % 2; interleave x at 2b, y at 2b+1
    def interleave(x: String, y: String, bits: Int) =
      (0 until bits).map { b =>
        s"((($x // ${1L << b}) % 2) * ${1L << (2 * b)}" +
          s" + (($y // ${1L << b}) % 2) * ${1L << (2 * b + 1)})"
      }.mkString(" + ")
    s"""WITH e AS (SELECT event_id, user_id % 256 AS x, event_id % 256 AS y
       |           FROM events),
       | z AS (SELECT x, y, ${interleave("x", "y", 8)} AS z FROM e)
       |SELECT z // 4096 AS z_range, count(*) AS n,
       |       min(x) AS x_min, max(x) AS x_max,
       |       min(y) AS y_min, max(y) AS y_max
       |FROM z GROUP BY 1 ORDER BY z_range""".stripMargin
  }

  // --------------------------------------------------------------------
  // q95 — SCD type-2 version assembly from a change log: each
  // customer's order stream becomes versioned rows with
  // [valid_from, valid_to) intervals and an is_current flag — the
  // standard dimension-history build (one lead() window per key, one
  // shuffle). The "merge new batch into existing history" variant is
  // this same window over (history ∪ batch).
  def q95(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
    t(s, dir, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_orderstatus", $"o_orderdate")
      .withColumn("valid_to", lead($"o_orderdate", 1).over(w))
      .withColumn("is_current", $"valid_to".isNull)
      .select($"o_custkey", $"o_orderkey", $"o_orderstatus",
        $"o_orderdate".as("valid_from"), $"valid_to", $"is_current")
      .orderBy($"o_custkey", $"valid_from", $"o_orderkey")
  }

  val q95Sql: String =
    """SELECT o_custkey, o_orderkey, o_orderstatus,
      |  o_orderdate AS valid_from,
      |  lead(o_orderdate) OVER w AS valid_to,
      |  (lead(o_orderdate) OVER w IS NULL) AS is_current
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin

  // --------------------------------------------------------------------
  // q96 — export shard manifest: deterministic shard assignment
  // (HashSplit-style md5 bucketing) + per-shard counts, token totals,
  // id ranges and an order-independent checksum (bit_xor) — the
  // planning pass a corpus export runs before writing N training
  // shards, and the receipt a consumer verifies against. Everything is
  // integer-exact; one shuffle on the shard id.
  def q96(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id",
        TextFns.approxBpeTokenCount($"text").as("toks"),
        graft.operators.HashSplit.bucket($"doc_id", 8).as("shard"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("total_toks"),
        min($"doc_id").as("min_id"), max($"doc_id").as("max_id"),
        expr("bit_xor(doc_id)").as("id_checksum"))
      .orderBy($"shard")
  }

  val q96Sql: String = {
    def hexVal(i: Int) =
      s"""(CASE WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) >= 97
         | THEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 87
         | ELSE ascii(substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 48 END)""".stripMargin
    val hex8 = (1 to 8).foldLeft("CAST(0 AS BIGINT)")(
      (acc, i) => s"($acc * 16 + ${hexVal(i)})")
    s"""SELECT CAST($hex8 % 8 AS INTEGER) AS shard, count(*) AS n_docs,
       |  CAST(sum(ceil(length(regexp_replace(text, '\\s+', '', 'g')) / 4.0))
       |    AS BIGINT) AS total_toks,
       |  min(doc_id) AS min_id, max(doc_id) AS max_id,
       |  bit_xor(doc_id) AS id_checksum
       |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin
  }

  // --------------------------------------------------------------------
  // q97 — PII scrubbing (the mandatory pass before a crawl enters a
  // training mix): redact email / IPv4 / phone-shaped spans and report
  // per-tag audit counts. The corpus is synthetic, so PII-shaped spans
  // are INJECTED deterministically from doc_id first — the redaction
  // and its audit then run exactly as they would on a real crawl. The
  // patterns restrict themselves to syntax Java regex and RE2-family
  // engines read identically (TextFns.PiiPatterns), which the oracle
  // proves. One fused native expression (graft.plans.PiiScan): the 6
  // logical regex passes (3 audit counts on the original + 3 sequential
  // redactions) run in a single JVM call per row over one materialized
  // string — shuffle-free, codegen'd, and at 100 TB the text bytes are
  // scanned once through a cache-hot value instead of 4 independent
  // expression pipelines.
  def q97(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val aug = concat($"text",
      lit(" contact u"), $"doc_id", lit("@ex"), $"doc_id" % 7,
      lit(".com via 10.0."), $"doc_id" % 256, lit("."), ($"doc_id" * 7) % 256,
      lit(" or +1 555 01"), lpad(($"doc_id" % 100).cast("string"), 2, "0"),
      lit("9"))
    t(s, dir, "documents")
      .select($"doc_id",
        graft.plans.TextExpressions.piiScan(aug).as("pii"))
      .select($"doc_id",
        $"pii.n_emails".as("n_emails"),
        $"pii.n_ips".as("n_ips"),
        $"pii.n_phones".as("n_phones"),
        md5($"pii.redacted").as("redacted_fp"))
      .orderBy($"doc_id")
  }

  val q97Sql: String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    val phone = "\\+?[0-9][0-9()\\- ]{5,}[0-9]"
    s"""WITH a AS (SELECT doc_id,
       |  text || ' contact u' || doc_id || '@ex' || (doc_id % 7) ||
       |  '.com via 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) ||
       |  ' or +1 555 01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ||
       |  '9' AS aug
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(aug, '$email')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(aug, '$ip')) AS BIGINT) AS n_ips,
       |  CAST(len(regexp_extract_all(aug, '$phone')) AS BIGINT) AS n_phones,
       |  md5(regexp_replace(regexp_replace(regexp_replace(aug,
       |    '$email', '<EMAIL>', 'g'),
       |    '$ip', '<IP>', 'g'),
       |    '$phone', '<PHONE>', 'g')) AS redacted_fp
       |FROM a ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // q98 — incremental dedup (TextDedup.novelAgainst): which docs of a
  // new batch (doc_id % 10 == 0) are novel against the existing corpus
  // (the rest)? The corpus-update gate every continuously-crawled
  // training set runs: only novel docs append; the corpus re-clusters
  // never. Corpus side reduces to DISTINCT band keys (storable as a
  // dedup index); batch novelty is one semi-join + one anti-join.
  def q98(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val batch = docs.filter($"doc_id" % 10 === 0)
    graft.ext.TextDedup
      .novelAgainst(corpus, batch, "text", "doc_id")
      .orderBy($"doc_id")
  }

  val q98Sql: String = {
    val ng = ngramsSql(3)
    def chunk(i: Int) =
      s"list_min(list_transform($ng, s -> substr(md5(s), ${i * 8 + 1}, 8)))"
    s"""WITH sig AS (
       | SELECT doc_id,
       |  '0|' || ${chunk(0)} || '|' || ${chunk(1)} || '|' ||
       |  ${chunk(2)} || '|' || ${chunk(3)} AS band
       | FROM documents)
       |SELECT doc_id FROM sig b
       |WHERE doc_id % 10 = 0
       |  AND NOT EXISTS (SELECT 1 FROM sig c
       |                  WHERE c.doc_id % 10 <> 0 AND c.band = b.band)
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // q99 — equi-depth histogram (decile binning): deterministic
  // total-order deciles, then per-bin count/min/max — the
  // data-profiling companion to q07's equi-width histogram and the
  // cutpoint source for range partitioning. NOT `ntile(10) OVER
  // (ORDER BY …)`: an unpartitioned window moves the whole table
  // through ONE task (the q158 lesson — this was the last full-table
  // instance). GlobalRank.withNtile range-partitions, ranks with the
  // two-phase zip, and computes the ntile assignment arithmetically —
  // row-identical to the windowed form, no single-partition stage.
  def q99(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = t(s, dir, "lineitem")
      .select($"l_extendedprice", $"l_orderkey", $"l_linenumber")
    graft.operators.GlobalRank
      .withNtile(base, Seq($"l_extendedprice", $"l_orderkey", $"l_linenumber"),
        tiles = 10, tileCol = "decile")
      .groupBy($"decile")
      .agg(count(lit(1)).as("n"),
        round(min($"l_extendedprice"), 2).as("lo"),
        round(max($"l_extendedprice"), 2).as("hi"))
      .orderBy($"decile")
  }

  val q99Sql: String =
    """WITH d AS (SELECT l_extendedprice,
      |  ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
      |    AS decile
      |  FROM lineitem)
      |SELECT decile, count(*) AS n,
      |       round(min(l_extendedprice), 2) AS lo,
      |       round(max(l_extendedprice), 2) AS hi
      |FROM d GROUP BY decile ORDER BY decile""".stripMargin

  // --------------------------------------------------------------------
  // q100 — the full training-data prep chain as ONE declarative plan:
  // quality-filter (token count + stopword ratio) → exact dedup (keep
  // min doc_id per content hash) → per-source sequence packing →
  // per-source batch stats. Composes q27 + q18 + q86; Catalyst fuses
  // the filter into the scan, the dedup is one hash shuffle, the
  // packing one keyed window — three shuffles total for the pipeline a
  // 100 TB corpus runs nightly.
  def q100(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val en = TextFns.LangStopwords.toMap.apply("en")
    val quality = t(s, dir, "documents")
      .withColumn("toks", TextFns.tokens($"text"))
      .filter(size($"toks") >= 20 &&
        TextFns.stopwordRatioFromTokens($"toks", en) >= 0.05)
    val deduped = quality
      .withColumn("fp", md5($"text"))
      .withColumn("keep",
        row_number().over(Window.partitionBy($"fp").orderBy($"doc_id")) === 1)
      .filter($"keep")
    // per-source cumsum via the keyed two-pass (the TrainPrep.pack
    // layout) — a PARTITION BY source window would sort each source's
    // whole extent in one task (few-source 100 TB pathology)
    val sized = deduped
      .select($"doc_id", $"source",
        TextFns.approxBpeTokenCount($"text").as("btoks"))
    graft.operators.GlobalRank
      .withKeyedPrefixSum(sized, Seq("source"), Seq($"doc_id"), "btoks",
        "cum")
      .withColumn("batch_id", expr("cum div 512"))
      .groupBy($"source", $"batch_id")
      .agg(count(lit(1)).as("n_docs"), sum($"btoks").as("batch_tokens"))
      .orderBy($"source", $"batch_id")
  }

  val q100Sql: String = {
    val en = TextFns.LangStopwords.toMap.apply("en")
      .map(wd => s"'$wd'").mkString(", ")
    s"""WITH q AS (
       |  SELECT doc_id, source, text,
       |    len($tokensSql) AS ntok,
       |    CAST(len(list_filter($tokensSql, x -> x IN ($en))) AS DOUBLE)
       |      / len($tokensSql) AS stopratio
       |  FROM documents),
       | f AS (SELECT * FROM q WHERE ntok >= 20 AND stopratio >= 0.05),
       | d AS (SELECT *, row_number() OVER (PARTITION BY md5(text)
       |         ORDER BY doc_id) AS rn FROM f),
       | k AS (SELECT doc_id, source,
       |         CAST(ceil(length(regexp_replace(text, '\\s+', '', 'g')) / 4.0)
       |           AS BIGINT) AS btoks
       |       FROM d WHERE rn = 1),
       | c AS (SELECT doc_id, source, btoks,
       |         coalesce(sum(btoks) OVER (PARTITION BY source ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |       FROM k)
       |SELECT source, CAST(cum // 512 AS BIGINT) AS batch_id, count(*) AS n_docs,
       |       CAST(sum(btoks) AS BIGINT) AS batch_tokens
       |FROM c GROUP BY 1, 2 ORDER BY source, batch_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // q101 — ordered aggregates (max_by/min_by): the argmax family as ONE
  // hash-agg pass — no per-group window sort, so shuffle carries one
  // candidate per group instead of every row (q42's window formulation
  // re-sorts each group; this is the scale-preferred shape when only
  // the extreme row is needed). Ordering key is struct(value, event_id)
  // — ties on value resolve by id, so the result is deterministic.
  def q101(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .groupBy($"event_type")
      .agg(
        max_by($"event_id", struct($"value", $"event_id")).as("top_event"),
        round(max($"value"), 4).as("top_value"),
        min_by($"event_id", struct($"value", $"event_id")).as("bottom_event"),
        round(min($"value"), 4).as("bottom_value"))
      .orderBy($"event_type")
  }

  val q101Sql: String =
    """WITH r AS (
      |  SELECT event_type, event_id, value,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY value DESC, event_id DESC) AS rk_top,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY value ASC, event_id ASC) AS rk_bot
      |  FROM events)
      |SELECT event_type,
      |  max(CASE WHEN rk_top = 1 THEN event_id END) AS top_event,
      |  round(max(value), 4) AS top_value,
      |  max(CASE WHEN rk_bot = 1 THEN event_id END) AS bottom_event,
      |  round(min(value), 4) AS bottom_value
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------------
  // q102 — regexp_extract_all: every 'ar'-infixed word per doc as a
  // joined list (the multi-match companion to q72's single-capture
  // extraction). Pattern restricted to a character class both regex
  // dialects read identically.
  def q102(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id",
        array_join(regexp_extract_all($"text", lit("[a-z]*ar[a-z]*"), lit(0)), ",")
          .as("ar_words"),
        size(regexp_extract_all($"text", lit("[a-z]*ar[a-z]*"), lit(0)))
          .as("n_matches"))
      .orderBy($"doc_id")
  }

  val q102Sql: String =
    """SELECT doc_id,
      |  coalesce(array_to_string(regexp_extract_all(text, '[a-z]*ar[a-z]*'),
      |    ','), '') AS ar_words,
      |  CAST(len(regexp_extract_all(text, '[a-z]*ar[a-z]*')) AS INTEGER)
      |    AS n_matches
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q103 — EXISTS / FORALL higher-order predicates over token arrays:
  // per-row quantifiers without explode (no row multiplication, stays
  // codegen-adjacent) — the idiom for "any token longer than 8" /
  // "every token shorter than 15" style data contracts.
  def q103(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .withColumn("toks", TextFns.tokens($"text"))
      .select($"doc_id",
        exists($"toks", t => length(t) > 8).as("has_long_token"),
        forall($"toks", t => length(t) < 15).as("all_tokens_short"),
        size(filter($"toks", t => length(t) > 8)).as("n_long"))
      .orderBy($"doc_id")
  }

  val q103Sql: String =
    s"""SELECT doc_id,
       |  len(list_filter($tokensSql, t -> length(t) > 8)) > 0
       |    AS has_long_token,
       |  len(list_filter($tokensSql, t -> length(t) >= 15)) = 0
       |    AS all_tokens_short,
       |  CAST(len(list_filter($tokensSql, t -> length(t) > 8)) AS INTEGER)
       |    AS n_long
       |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q104 — MapType end-to-end: JSON → typed map column (from_json with
  // an explicit MapType schema — never inference at scale) → key list +
  // value lookup. Completes the complex-type surface next to arrays
  // (everywhere) and structs (q46/q101).
  def q104(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{LongType, MapType, StringType}
    t(s, dir, "events")
      .withColumn("m", from_json($"props", MapType(StringType, LongType)))
      .select($"event_id",
        array_join(map_keys($"m"), ",").as("keys"),
        element_at($"m", "k").as("k_val"),
        size($"m").as("n_entries"))
      .filter($"k_val" % 5 === 0)
      .orderBy($"event_id")
  }

  val q104Sql: String =
    """SELECT event_id, 'k' AS keys,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
      |  CAST(1 AS INTEGER) AS n_entries
      |FROM events
      |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) % 5 = 0
      |ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------------
  // q105 — distribution window functions (percent_rank / cume_dist /
  // rank with gaps): the remaining rank family next to q67's
  // lead/first/ntile — per event_type value distributions. The ranks
  // come from GlobalRank.withKeyedRank (the keyed two-pass), NOT a
  // `PARTITION BY event_type` window: event_type is low-cardinality,
  // so the windowed plan would sort each type's ENTIRE extent in one
  // task. The distribution arithmetic is then exact from (rank,
  // per-type count): (event_id is unique, so the (value, event_id)
  // order has no ties) rank-with-gaps == row_number, percent_rank ==
  // (rk−1)/(n−1), cume_dist == rk/n — the same doubles the window
  // functions produce, spec-pinned against the windowed form.
  def q105(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "events")
      .filter($"event_id" % 20 === 0) // thin the output, keep the shape
      .select($"event_type", $"event_id", $"value")
    val totals = d.groupBy($"event_type").agg(count(lit(1)).as("__n"))
    graft.operators.GlobalRank
      .withKeyedRank(d, Seq("event_type"), Seq($"value", $"event_id"), "__rk")
      .join(broadcast(totals), "event_type")
      .select($"event_type", $"event_id", round($"value", 4).as("v"),
        (floor(when($"__n" === 1L, lit(0.0))
            .otherwise(($"__rk" - 1) / ($"__n" - 1)) * 1e6 + lit(0.5))
          / 1e6).as("pr"),
        (floor(($"__rk" / $"__n") * 1e6 + lit(0.5)) / 1e6).as("cd"),
        $"__rk".cast("int").as("rk"))
      .orderBy($"event_type", $"event_id")
  }

  val q105Sql: String =
    """WITH f AS (SELECT * FROM events WHERE event_id % 20 = 0)
      |SELECT event_type, event_id, round(value, 4) AS v,
      |  floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000 AS pr,
      |  floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000 AS cd,
      |  CAST(rank() OVER w AS INTEGER) AS rk
      |FROM f
      |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
      |ORDER BY event_type, event_id""".stripMargin

  /** Name → query function, for SparkEntry. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q79_repetition_quality" -> (q79 _),
    "q80_decontamination" -> (q80 _),
    "q81_knn_join" -> (q81 _),
    "q82_inverted_index" -> (q82 _),
    "q83_grouping_sets" -> (q83 _),
    "q84_normalize_fp" -> (q84 _),
    "q85_int8_quantize" -> (q85 _),
    "q86_seq_packing" -> (q86 _),
    "q87_cartesian" -> (q87 _),
    "q88_sparse_cosine" -> (q88 _),
    "q89_domain_mix" -> (q89 _),
    "q90_topk_udaf" -> (q90 _),
    "q91_star_cc" -> (q91 _),
    "q92_time_weighted_avg" -> (q92 _),
    "q93_heavy_hitters" -> (q93 _),
    "q94_zorder_stats" -> (q94 _),
    "q95_scd2_versions" -> (q95 _),
    "q96_shard_manifest" -> (q96 _),
    "q97_pii_redaction" -> (q97 _),
    "q98_incremental_dedup" -> (q98 _),
    "q99_equidepth_hist" -> (q99 _),
    "q100_training_prep" -> (q100 _),
    "q101_argmax" -> (q101 _),
    "q102_extract_all" -> (q102 _),
    "q103_hof_predicates" -> (q103 _),
    "q104_map_type" -> (q104 _),
    "q105_rank_distributions" -> (q105 _)
  )

  /** Name → DuckDB oracle SQL, for SparkEntry. */
  val oracles: Map[String, String] = Map(
    "q79_repetition_quality" -> q79Sql,
    "q80_decontamination" -> q80Sql,
    "q81_knn_join" -> q81Sql,
    "q82_inverted_index" -> q82Sql,
    "q83_grouping_sets" -> q83Sql,
    "q84_normalize_fp" -> q84Sql,
    "q85_int8_quantize" -> q85Sql,
    "q86_seq_packing" -> q86Sql,
    "q87_cartesian" -> q87Sql,
    "q88_sparse_cosine" -> q88Sql,
    "q89_domain_mix" -> q89Sql,
    "q90_topk_udaf" -> q90Sql,
    "q91_star_cc" -> q91Sql,
    "q92_time_weighted_avg" -> q92Sql,
    "q93_heavy_hitters" -> q93Sql,
    "q94_zorder_stats" -> q94Sql,
    "q95_scd2_versions" -> q95Sql,
    "q96_shard_manifest" -> q96Sql,
    "q97_pii_redaction" -> q97Sql,
    "q98_incremental_dedup" -> q98Sql,
    "q99_equidepth_hist" -> q99Sql,
    "q100_training_prep" -> q100Sql,
    "q101_argmax" -> q101Sql,
    "q102_extract_all" -> q102Sql,
    "q103_hof_predicates" -> q103Sql,
    "q104_map_type" -> q104Sql,
    "q105_rank_distributions" -> q105Sql
  )
}
