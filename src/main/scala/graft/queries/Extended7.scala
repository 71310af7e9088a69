package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFns, VectorFns}

/** Round-7 fourth batch: the remaining pillars of a cluster-scale
  * training-data engine plus the Spark-4 SQL surface:
  *
  *  - q130 unigram-LM quality scoring (the CCNet/KenLM-style perplexity
  *    filter, integer-exact via floor-scaled micro-nats);
  *  - q131 multi-way star join (TPC-H Q5 shape: fact ⋈ 3 dims ⋈ 2
  *    broadcast dims, DECIMAL-free integer revenue);
  *  - q132 recursive CTE (Spark 4 `WITH RECURSIVE`) calendar scaffold +
  *    zero-filled daily series;
  *  - q133 VARIANT semi-structured type end-to-end (parse_json →
  *    variant_get / try_variant_get / schema_of_variant);
  *  - q134 PageRank, 3 unrolled supersteps over the part↔supplier
  *    bipartite graph — integer ppt arithmetic so the ranks are
  *    bit-identical on any engine;
  *  - q135 multi-probe LSH retrieval (probe the query bucket plus all
  *    Hamming-1 neighbors, then exact re-rank — the recall knob of
  *    bucketed ANN);
  *  - q136 deterministic negative sampling for contrastive training
  *    (md5-ranked cross-source negatives);
  *  - q137 length-bucketed batching (equi-depth length buckets +
  *    fixed-budget batch assignment — the padding-minimizing layout).
  *
  * Float discipline (NOTES.md): every cross-row aggregation feeding an
  * output is BIGINT; the only transcendental (q130's ln) is floor-scaled
  * per DISTINCT vocab entry before any summation.
  */
object Extended7 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // --------------------------------------------------------------------
  // q130 — unigram language-model quality scoring: build the corpus
  // unigram LM, score every doc by its average negative log-likelihood
  // (the classic perplexity-proxy quality filter — CCNet keeps the
  // low-perplexity tail). Token log-probs are floor-scaled to BIGINT
  // micro-nats per DISTINCT vocab entry, so the per-doc sums are
  // integer-exact and aggregation order can never flip a digit.
  //
  // Scale: tokenize once; (doc, tok) occurrence counts collapse repeats
  // BEFORE the vocab join (map-side partial agg); the join shuffles on
  // token — the stopword head is the skew risk at 100 TB, which is
  // exactly what q93's heavy-hitter detector + Skew.saltedJoin handle
  // (the vocab side is tiny per token, so AQE skew-split also applies).
  def q130(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perDocTok = t(s, dir, "documents")
      .select($"doc_id", explode(TextFns.tokens($"text")).as("tok"))
      .groupBy($"doc_id", $"tok")
      .agg(count(lit(1)).as("occ"))
    val vocab = perDocTok.groupBy($"tok").agg(sum($"occ").as("cnt"))
    val total = vocab.agg(sum($"cnt").as("n"))
    perDocTok
      .join(vocab, "tok")
      .crossJoin(broadcast(total))
      .withColumn("nll_u",
        floor((log($"n") - log($"cnt")) * 1000000.0).cast("long"))
      .groupBy($"doc_id")
      .agg(
        sum($"occ").as("n_toks"),
        sum($"occ" * $"nll_u").as("nll_sum_micro"))
      .select($"doc_id", $"n_toks", $"nll_sum_micro",
        expr("nll_sum_micro div n_toks").as("nll_avg_micro"))
      .orderBy($"doc_id")
  }

  val q130Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |  FROM documents),
      | pdt AS (SELECT doc_id, tok, count(*) AS occ FROM tk GROUP BY 1, 2),
      | vocab AS (SELECT tok, CAST(sum(occ) AS BIGINT) AS cnt FROM pdt GROUP BY tok),
      | tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM vocab),
      | scored AS (
      |  SELECT p.doc_id, p.occ,
      |    CAST(floor((ln(CAST(n AS DOUBLE)) - ln(CAST(cnt AS DOUBLE)))
      |               * 1000000) AS BIGINT) AS nll_u
      |  FROM pdt p JOIN vocab v ON p.tok = v.tok CROSS JOIN tot)
      |SELECT doc_id,
      |  CAST(sum(occ) AS BIGINT) AS n_toks,
      |  CAST(sum(occ * nll_u) AS BIGINT) AS nll_sum_micro,
      |  CAST(sum(occ * nll_u) // sum(occ) AS BIGINT) AS nll_avg_micro
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q131 — multi-way star join (TPC-H Q5 shape): revenue per nation for
  // one region and one order-year. The fact table joins orders and
  // customer on shuffle keys; supplier / nation / region are broadcast
  // dims (plan-asserted in Extended7Spec). Revenue is integer-exact:
  // prices/discounts are 2-dp decimals stored as doubles, so
  // floor(x*100 + 0.5) recovers exact cents on both engines and the
  // per-row product price_c * (100 - disc_pct) sums as BIGINT.
  //
  // Scale: date + region filters push into the scans; AQE reorders /
  // re-sizes the two shuffle joins at runtime; the c_nationkey =
  // s_nationkey condition rides the supplier broadcast.
  def q131(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
    val c = t(s, dir, "customer")
    val su = t(s, dir, "supplier")
    val na = t(s, dir, "nation")
    val re = t(s, dir, "region").filter($"r_name" === "ASIA")
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .join(broadcast(su),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(na), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(re), $"n_regionkey" === $"r_regionkey")
      .select($"n_name",
        (floor($"l_extendedprice" * 100 + 0.5).cast("long") *
          (lit(100L) - floor($"l_discount" * 100 + 0.5).cast("long")))
          .as("rev"))
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_lines"), sum($"rev").as("revenue_c100"))
      .orderBy($"revenue_c100".desc, $"n_name")
  }

  val q131Sql: String =
    """SELECT n_name, count(*) AS n_lines,
      |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |           (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
      |       AS BIGINT) AS revenue_c100
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1997-01-01'
      |GROUP BY n_name
      |ORDER BY revenue_c100 DESC, n_name""".stripMargin

  // --------------------------------------------------------------------
  // q132 — recursive CTE (Spark 4 WITH RECURSIVE): generate the full
  // calendar between the corpus min/max day, then left-join a sparse
  // daily count so missing days surface as explicit zeros. The max day
  // rides the recursion as a carried column, so the whole scaffold is
  // one SQL statement — no driver-side collect of the bounds.
  //
  // Scale note: the recursion advances one YEAR per level and each
  // level explodes its days via sequence(), so recursion depth =
  // years-in-range. A per-day recursion would hit Spark's
  // spark.sql.cteRecursionLevelLimit (default 100) on any span over
  // ~3 months; year strides survive a century of events without
  // touching the limit, and the event scan/aggregation stays fully
  // distributed either way.
  def q132(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("ev_q132")
    s.sql(
      """WITH RECURSIVE yrs(y, d0, dmax) AS (
        |  SELECT CAST(date_trunc('YEAR', min(ts)) AS DATE),
        |         CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)
        |  FROM ev_q132
        |  UNION ALL
        |  SELECT add_months(y, 12), d0, dmax FROM yrs
        |  WHERE add_months(y, 12) <= dmax
        |),
        |cal AS (
        |  SELECT explode(sequence(greatest(y, d0),
        |                          least(date_add(add_months(y, 12), -1), dmax),
        |                          interval 1 day)) AS d
        |  FROM yrs
        |),
        |daily AS (
        |  SELECT CAST(ts AS DATE) AS d, count(*) AS n
        |  FROM ev_q132
        |  WHERE event_type = 'error' AND event_id % 97 = 0
        |  GROUP BY CAST(ts AS DATE)
        |)
        |SELECT cal.d AS day, coalesce(daily.n, 0) AS n_events
        |FROM cal LEFT JOIN daily ON cal.d = daily.d
        |ORDER BY day""".stripMargin)
  }

  val q132Sql: String =
    """WITH RECURSIVE cal(d, dmax) AS (
      |  SELECT CAST(min(ts) AS DATE), CAST(max(ts) AS DATE) FROM events
      |  UNION ALL
      |  SELECT d + 1, dmax FROM cal WHERE d < dmax
      |),
      |daily AS (
      |  SELECT CAST(ts AS DATE) AS d, count(*) AS n
      |  FROM events
      |  WHERE event_type = 'error' AND event_id % 97 = 0
      |  GROUP BY CAST(ts AS DATE)
      |)
      |SELECT cal.d AS day, CAST(coalesce(daily.n, 0) AS BIGINT) AS n_events
      |FROM cal LEFT JOIN daily ON cal.d = daily.d
      |ORDER BY day""".stripMargin

  // --------------------------------------------------------------------
  // q133 — VARIANT end-to-end (Spark 4 semi-structured type): wrap each
  // event's typed columns + its JSON props into one VARIANT value, then
  // read it back through typed paths (variant_get), a missing path
  // (try_variant_get → NULL, counted), and schema introspection
  // (schema_of_variant). The oracle recomputes every extraction from
  // the base columns, so the whole variant codec round-trips under the
  // gate. At scale VARIANT is the shredded semi-structured column:
  // typed-path access without a per-row full JSON parse downstream.
  def q133(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .withColumn("vjson",
        concat(lit("{\"t\":\""), $"event_type", lit("\",\"p\":"), $"props",
          lit(",\"arr\":["), ($"event_id" % 5).cast("string"), lit(","),
          ($"user_id" % 7).cast("string"), lit("]}")))
      .withColumn("v", expr("parse_json(vjson)"))
      // Project every variant extraction ONCE before the aggregate: the
      // naive groupBy-over-expr plan decoded the variant binary six
      // times per row (5 paths + schema) inside the agg — pre-projecting
      // makes it one decode per path per row in a codegen'd select, and
      // the aggregate itself runs over plain longs/strings.
      .select(
        expr("variant_get(v, '$.t', 'string')").as("t"),
        expr("variant_get(v, '$.p.k', 'long')").as("k"),
        expr("variant_get(v, '$.arr[0]', 'long')").as("arr0"),
        expr("variant_get(v, '$.arr[1]', 'long')").as("arr1"),
        expr("try_variant_get(v, '$.missing', 'long')").as("missing"),
        expr("schema_of_variant(v)").as("vs"))
      .groupBy($"t")
      .agg(
        count(lit(1)).as("n"),
        sum($"k").as("sum_k"),
        sum($"arr0").as("arr0_sum"),
        sum($"arr1").as("arr1_sum"),
        count($"missing").as("n_missing"),
        min($"vs").as("vschema"))
      .orderBy($"t")
  }

  // The vschema literal is Spark's rendering of the variant schema —
  // asserted as a constant (the oracle proves Spark derived it for
  // every group; the value itself is pinned in Extended7Spec too).
  val q133Sql: String =
    """SELECT event_type AS t, count(*) AS n,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS sum_k,
      |  CAST(sum(event_id % 5) AS BIGINT) AS arr0_sum,
      |  CAST(sum(user_id % 7) AS BIGINT) AS arr1_sum,
      |  CAST(count(CASE WHEN 1 = 0 THEN 1 END) AS BIGINT) AS n_missing,
      |  'OBJECT<arr: ARRAY<BIGINT>, p: OBJECT<k: BIGINT>, t: STRING>' AS vschema
      |FROM events GROUP BY event_type ORDER BY t""".stripMargin

  // --------------------------------------------------------------------
  // q134 — PageRank (3 unrolled supersteps) over the part↔supplier
  // bipartite graph: the Pregel-style iterative join+agg pattern
  // (generalizing connected components, q61/q91). Ranks live in BIGINT
  // parts-per-trillion; each superstep is contribution = rank div deg
  // (exact positive integer division on every engine), one shuffle on
  // dst, then base + 85% damping in integer arithmetic — so three
  // iterations later the ranks are still bit-identical cross-engine.
  //
  // Scale: past the graph bound, per superstep one join (edges ⋈ ranks,
  // both partitioned by node) + one aggregation; degrees and N are
  // reused broadcasts — GraphX/Pregel's data layout in DataFrames.
  def q134(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The superstep loop (integer damping, rank-carries-degree) lives in
    // ext/Graph.pageRank; this query is its exactly-3-superstep instance
    // (no convergence probe — the oracle is a 3-round unroll, and 3
    // rounds never reach the fixpoint). Its edge list fits the graph
    // bound, so one collect is the gate and the 3 supersteps run on the
    // driver: ProfileQuery at sf0.01 on 4 cores measured 17 jobs /
    // 2.25 s with the earlier lazy unrolled join chain, 4 jobs / 0.57 s
    // on the driver.
    val half = t(s, dir, "lineitem")
      .select(($"l_partkey" * 2).as("src"), ($"l_suppkey" * 2 + 1).as("dst"))
      .distinct()
    val edges = half.union(half.select($"dst".as("src"), $"src".as("dst")))
    graft.ext.Graph
      .pageRank(edges, maxIterations = 3, checkConvergence = false)
      .select($"node", ($"node" % 2).as("is_supp"), $"r".as("rank_ppt"))
      .orderBy($"rank_ppt".desc, $"node")
      .limit(20)
  }

  val q134Sql: String = {
    def step(prev: String, cur: String): String =
      s""" acc_$cur AS (
         |  SELECT e.dst AS node, CAST(sum(p.r // dg.d) AS BIGINT) AS acc
         |  FROM e JOIN $prev p ON p.node = e.src JOIN deg dg ON dg.node = e.src
         |  GROUP BY e.dst),
         | $cur AS (
         |  SELECT d.node,
         |    CAST(150000000000 // cnt
         |         + (85 * coalesce(a.acc, 0)) // 100 AS BIGINT) AS r
         |  FROM deg d CROSS JOIN n LEFT JOIN acc_$cur a ON a.node = d.node)"""
        .stripMargin
    s"""WITH half AS (
       |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM lineitem),
       | e AS (SELECT src, dst FROM half
       |       UNION ALL SELECT dst AS src, src AS dst FROM half),
       | deg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY src),
       | n AS (SELECT count(*) AS cnt FROM deg),
       | r0 AS (SELECT node, CAST(1000000000000 // cnt AS BIGINT) AS r
       |        FROM deg CROSS JOIN n),
       |${step("r0", "r1")},
       |${step("r1", "r2")},
       |${step("r2", "r3")}
       |SELECT node, node % 2 AS is_supp, r AS rank_ppt
       |FROM r3 ORDER BY rank_ppt DESC, node LIMIT 20""".stripMargin
  }

  // --------------------------------------------------------------------
  // q135 — multi-probe LSH retrieval: probe the query's sign-LSH bucket
  // PLUS all 8 Hamming-distance-1 buckets, then exact-cosine re-rank the
  // union — the standard recall knob of bucketed ANN (q25 probes 1
  // bucket; IVF q49 probes nearest cells). Probes explode from one
  // broadcast row, so the candidate join stays a broadcast hash join
  // and the re-rank is TakeOrderedAndProject.
  def q135(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
      .withColumn("bucket", VectorFns.signBucket($"embedding", 8))
    val probes = e.filter($"vec_id" === 0)
      .select($"bucket".as("qbucket"), $"embedding".as("qvec"))
      .withColumn("flip",
        explode(array(lit(0L) +: (0 until 8).map(i => lit(1L << i)): _*)))
      .select($"qbucket".bitwiseXOR($"flip").as("pbucket"), $"qvec")
    e.join(broadcast(probes), $"bucket" === $"pbucket")
      .filter($"vec_id" =!= 0)
      .select($"vec_id",
        round(VectorFns.cosine($"embedding", $"qvec"), 4).as("cos_sim"))
      .orderBy($"cos_sim".desc, $"vec_id".asc)
      .limit(10)
  }

  private val dotSql =
    """list_sum(list_transform(list_zip(e.embedding, q.qvec),
      | x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))""".stripMargin
  private def normSql(v: String) =
    s"sqrt(list_sum(list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
  private def bucketSql(v: String) =
    (0 until 8).map(i => s"(CASE WHEN $v[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)")
      .mkString("(", " + ", ")")

  val q135Sql: String =
    s"""WITH b AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
       |           FROM embeddings),
       | probes AS (
       |  SELECT xor(bucket, f.flip) AS pbucket, embedding AS qvec
       |  FROM b CROSS JOIN
       |    (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS flip) f
       |  WHERE vec_id = 0)
       |SELECT e.vec_id,
       | round($dotSql / (${normSql("e.embedding")} * ${normSql("q.qvec")}), 4)
       |   AS cos_sim
       |FROM b e JOIN probes q ON e.bucket = q.pbucket
       |WHERE e.vec_id <> 0
       |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin

  // --------------------------------------------------------------------
  // q136 — deterministic negative sampling for contrastive training:
  // for each query doc, pick k=5 negatives from OTHER sources, ranked
  // by md5(query:candidate) — engine/run/cluster-stable (the q45/q54
  // hash-determinism doctrine applied to pair sampling). The query side
  // is tiny and broadcast; the candidate scan stays distributed and the
  // per-query top-k is one window over the hash order.
  def q136(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val qs = docs.filter($"doc_id" < 20)
      .select($"doc_id".as("q_id"), $"source".as("q_source"))
    val w = Window.partitionBy($"q_id").orderBy($"h", $"doc_id")
    docs.join(broadcast(qs), $"source" =!= $"q_source")
      .withColumn("h",
        md5(concat($"q_id".cast("string"), lit(":"), $"doc_id".cast("string"))))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .select($"q_id", $"doc_id".as("neg_id"), $"rk", $"h")
      .orderBy($"q_id", $"rk")
  }

  val q136Sql: String =
    """WITH qs AS (SELECT doc_id AS q_id, source AS q_source
      |            FROM documents WHERE doc_id < 20),
      | cand AS (
      |  SELECT q.q_id, d.doc_id,
      |    md5(CAST(q.q_id AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)) AS h
      |  FROM documents d JOIN qs q ON d.source <> q.q_source),
      | ranked AS (
      |  SELECT q_id, doc_id, h,
      |    row_number() OVER (PARTITION BY q_id ORDER BY h, doc_id) AS rk
      |  FROM cand)
      |SELECT q_id, doc_id AS neg_id, rk, h
      |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  // --------------------------------------------------------------------
  // q137 — length-bucketed batching: equi-depth token-length buckets
  // (ntile) then fixed-budget batch ids inside each bucket — grouping
  // similar-length docs minimizes padding waste in training batches.
  // Integer-only: batch id = running-token-start div budget. The
  // bucket assignment is GlobalRank.withNtile (range-partition +
  // arithmetic ntile — an unpartitioned ntile window would funnel the
  // corpus through one task, the q158/q99 lesson); the per-bucket
  // cumsum is the keyed two-pass (withKeyedPrefixSum) — 10 buckets is
  // exactly the low-cardinality key a `PARTITION BY bucket` window
  // would concentrate into 10 whole-extent sort tasks at 100 TB.
  def q137(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val budget = 2000L
    val sized = graft.operators.GlobalRank.withNtile(
      t(s, dir, "documents")
        .select($"doc_id", size(TextFns.tokens($"text")).cast("long").as("n_toks")),
      Seq($"n_toks", $"doc_id"), tiles = 10, tileCol = "bucket")
    graft.operators.GlobalRank
      .withKeyedPrefixSum(sized, Seq("bucket"), Seq($"doc_id"), "n_toks")
      .withColumn("batch_id", expr(s"cum_before div $budget"))
      .groupBy($"bucket", $"batch_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_toks").as("batch_tokens"),
        min($"n_toks").as("min_len"),
        max($"n_toks").as("max_len"))
      .orderBy($"bucket", $"batch_id")
  }

  val q137Sql: String =
    """WITH sized AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_toks
      |  FROM documents),
      | bucketed AS (
      |  SELECT doc_id, n_toks,
      |    ntile(10) OVER (ORDER BY n_toks, doc_id) AS bucket
      |  FROM sized),
      | batched AS (
      |  SELECT bucket, doc_id, n_toks,
      |    (sum(n_toks) OVER (PARTITION BY bucket ORDER BY doc_id) - n_toks)
      |      // 2000 AS batch_id
      |  FROM bucketed)
      |SELECT bucket, CAST(batch_id AS BIGINT) AS batch_id,
      |  count(*) AS n_docs,
      |  CAST(sum(n_toks) AS BIGINT) AS batch_tokens,
      |  CAST(min(n_toks) AS BIGINT) AS min_len,
      |  CAST(max(n_toks) AS BIGINT) AS max_len
      |FROM batched GROUP BY bucket, batch_id ORDER BY bucket, batch_id""".stripMargin

  // --------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q130_unigram_lm_quality" -> (q130 _),
    "q131_star_join_revenue" -> (q131 _),
    "q132_recursive_calendar" -> (q132 _),
    "q133_variant_semistructured" -> (q133 _),
    "q134_pagerank" -> (q134 _),
    "q135_multiprobe_retrieval" -> (q135 _),
    "q136_negative_sampling" -> (q136 _),
    "q137_length_bucket_batching" -> (q137 _))

  val oracles: Map[String, String] = Map(
    "q130_unigram_lm_quality" -> q130Sql,
    "q131_star_join_revenue" -> q131Sql,
    "q132_recursive_calendar" -> q132Sql,
    "q133_variant_semistructured" -> q133Sql,
    "q134_pagerank" -> q134Sql,
    "q135_multiprobe_retrieval" -> q135Sql,
    "q136_negative_sampling" -> q136Sql,
    "q137_length_bucket_batching" -> q137Sql)
}
