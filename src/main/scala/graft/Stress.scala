package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: drive the library's heavy pipelines at ARBITRARY generated
  * scale (no disk staging) through the graftdocs DataSource V2 source.
  * Usage:
  *   runMain graft.Stress <rows> [pipeline...]
  * pipelines: dedup | repetition | packing | redact | shard (default all)
  *
  * This is the would-it-hold-at-scale probe: the source generates any
  * corpus size with zero IO, so the measured cost is pure operator cost
  * (shuffle, agg, window) at whatever row count the hardware can hold.
  */
object Stress {

  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(100000L)
    val picks = if (args.length > 1) args.tail.toSet
      else Set("dedup", "repetition", "packing", "redact", "shard",
        "bm25", "merge", "ppjoin", "contamination")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-stress")
    import spark.implicits._

    def docs: DataFrame = spark.read.format("graftdocs")
      .option("rows", rows).option("partitions", cpus.toInt * 2).load()

    // 1-min loadavg stamped per probe line: today's adjudications keep
    // coming back to machine load (identical megapipe code measured
    // 252-884 s across four same-day runs) — a number without its load
    // context cannot be compared across rounds. Shuffle bytes settle
    // plan-shape claims that wall time cannot: a probe whose claim is
    // "the state is scanned, never shuffled" must show it in shuffleW.
    def load1: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    def timed(name: String)(body: => Long): Unit = {
      val l0 = load1
      val (n, run) = JobStats.measure(spark)(body)
      println(f"[stress] $name%-12s ${run.seconds}%8.2f s  ($n rows, $rows docs, shuffleW ${run.shuffleWriteBytes / 1e6}%.1f MB, shuffleR ${run.shuffleReadBytes / 1e6}%.1f MB, load1 $l0%.1f -> $load1%.1f)")
    }

    // Cleaner work window between composed-pipeline stages, on by
    // default (GRAFT_STRESS_GC=0 disables — the A/B dial): one
    // uninterrupted multi-minute chain at a large fixed heap never
    // triggers a full GC, so the ContextCleaner (whose shuffle /
    // broadcast / checkpoint cleanups ride on weak-reference
    // finalization) does no work until the driver blocks — dropped
    // upstream state then accumulates against the later stages. The
    // staged probes get this window for free at each materialization
    // barrier; composed runs must ask for it. Same mechanism as
    // Bench's between-query System.gc().
    // Sign-blocking bucket-occupancy target for the megapipe dedup
    // stage: bits = log2(rows/occ). The synthetic corpus duplicates
    // every vector 5× (clusters of 5), so occupancy 64 packs ~12
    // DISTINCT clusters per bucket and the cross-cluster junk pairs
    // outnumber true pairs ~60:1 — at 8M docs that is ~5e8 candidate
    // pairs whose scored join carries a 256 B vector payload through
    // an SMJ sort: ~137 GB of spill, measured disk-death twice (dim 32
    // AND dim 64). Occupancy ~ cluster size keeps pair volume LINEAR
    // in n (n·occ/2 per band) — the same sizing rule a production
    // corpus needs: target docs-per-bucket at the expected duplication
    // factor, not a flat constant.
    val occTarget = sys.env.getOrElse("GRAFT_STRESS_BUCKET_TARGET", "64").toInt
    val gcBetweenStages = sys.env.getOrElse("GRAFT_STRESS_GC", "1") != "0"
    def gcWindow(): Unit = if (gcBetweenStages) {
      val t0 = System.nanoTime()
      System.gc()
      Thread.sleep(200L)
      println(f"[stress] gc-window   ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }

    if (picks("srcprune")) {
      // r17 item 4: `source =` residue pushdown now shrinks the
      // PARTITION PLAN (ceil(parts·classes/20) readers over the same
      // id span) and the reader strides over matching ids only — the
      // probe prices the skipped generation: a 1-of-20 scan should
      // read ~1/20th of the full text-synthesis cost, not full scan
      // plus a Spark-side filter.
      timed("srcprune-full") {
        docs.agg(sum(length($"text"))).head(); rows
      }
      timed("srcprune-1of20") {
        docs.filter($"source" === "src5")
          .agg(sum(length($"text"))).head(); rows / 20
      }
      timed("srcprune-10of20") {
        docs.filter($"source".isin((0 until 10).map("src" + _): _*))
          .agg(sum(length($"text"))).head(); rows / 2
      }
    }

    if (picks("fpstate")) {
      // fingerprint-state growth: the append layout writes only
      // newly-seen fingerprints (O(new)), so per-batch times should
      // stay FLAT as the state accumulates. (Winnowing the batch
      // itself is a shared, constant cost in every bar.) k = 6: the
      // generator's 30-word vocabulary saturates the 4-gram space at
      // ~810k fingerprints, which would cap the state and hide any
      // growth — 30⁶ does not.
      val fpK = 6
      val nb = 8
      val aPath = java.nio.file.Files
        .createTempDirectory("fpappend").toString + "/state"
      for (b <- 0 until nb) {
        val batch = docs
          .filter(pmod($"doc_id", lit(nb.toLong)) === b.toLong)
        timed(f"fpappend-b$b") {
          graft.streaming.StreamEval.appendFingerprintBatch(
            spark, batch, "doc_id", "text", aPath, b.toLong, k = fpK)
        }
        gcWindow()
      }
      // r18: compaction — collapse the nb generations into one and
      // show (a) the novelty probe priced the same before and after,
      // (b) appends stay flat on the compacted state, (c) the state
      // directory count is bounded. The probe batch is half SEEN
      // (batch 0's text) and half NOVEL (a different generator seed,
      // ids offset past the corpus) — the realistic arriving mix.
      //
      // The novel seed must sit FAR outside the id space: the
      // generator derives a doc's stream from mix(seed ^ id), so for a
      // small seed s the set {s ^ id} largely COINCIDES with
      // {42 ^ id} over the id range — corpus B becomes a permutation
      // of corpus A's texts (measured: seed 1337 "novel" docs were 96%
      // duplicate at the fingerprint level). A high-bit seed makes the
      // two input sets disjoint.
      val novelDocs = spark.read.format("graftdocs")
        .option("rows", rows).option("partitions", cpus.toInt * 2)
        .option("seed", 1L << 40).load()
        .filter(pmod($"doc_id", lit(nb.toLong)) === 0L)
        .withColumn("doc_id", $"doc_id" + rows)
      val probeBatch = docs
        .filter(pmod($"doc_id", lit(nb.toLong)) === 0L)
        .unionByName(novelDocs)
      def probe(): Long =
        graft.streaming.StreamEval.winnowNoveltyFromSet(
          spark, aPath, probeBatch, "doc_id", "text", k = fpK)
          .queryExecution.toRdd.count()
      timed("fpprobe-pre")(probe())
      gcWindow()
      timed("fpcompact") {
        graft.streaming.StreamEval.compactFingerprintGenerations(
          spark, aPath, upTo = nb - 1L)
      }
      gcWindow()
      timed("fpprobe-post")(probe())
      gcWindow()
      timed(f"fpappend-b$nb-postcompact") {
        graft.streaming.StreamEval.appendFingerprintBatch(
          spark, novelDocs, "doc_id", "text", aPath, nb.toLong, k = fpK)
      }
      gcWindow()
    }

    if (picks("dedup")) timed("dedup") {
      val d = docs
      // starCap: the generated corpus has a 10k+-clone cluster; capped
      // buckets emit star edges (identical components, O(n) not O(n²))
      val pairs = graft.ext.TextDedup
        .lshCandidates(d, "text", "doc_id", starCap = 256)
      graft.ext.TextDedup
        .dedupFuzzyKeepIds(pairs, d.select($"doc_id"), nodeCol = "doc_id")
        .count()
    }
    if (picks("repetition")) timed("repetition") {
      // q79's shape over the generated corpus
      val toks = docs.withColumn("toks", graft.functions.TextFns.tokens($"text"))
      toks.select($"doc_id", explode($"toks").as("t"))
        .groupBy($"doc_id", $"t").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(sum($"c").as("n"), max($"c").as("m"))
        .count()
    }
    if (picks("packing")) timed("packing") {
      // TrainPrep.pack's keyed two-pass prefix sum (no per-source
      // single-task window) — the generated corpus has source
      // cardinality 4, exactly the few-source shape the keyed
      // GlobalRank layout exists for
      graft.ext.TrainPrep.pack(docs, "doc_id", "source", "text",
          tokenCap = 2048)
        .groupBy($"source", $"batch_id").count().count()
    }
    if (picks("packwin")) timed("packwin") {
      // A/B partner for `packing`: the SAME pack semantics through the
      // windowed per-source cumsum the keyed two-pass replaced. At few
      // sources each window partition is an entire source sorted in
      // ONE task — this probe exists to price that pathology against
      // the keyed layout at matched scale (expect: wins at small n
      // where one task absorbs a source, loses/dies as a source's
      // extent outgrows a task).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      docs.select($"doc_id", $"source",
          graft.functions.TextFns.approxBpeTokenCount($"text").as("toks"))
        .withColumn("cum", coalesce(sum($"toks").over(w), lit(0L)))
        .withColumn("batch_id", expr("cum div 2048"))
        .groupBy($"source", $"batch_id").count().count()
    }
    if (picks("redact")) timed("redact") {
      docs.select(md5(graft.functions.TextFns.redactPii($"text")))
        .queryExecution.toRdd.count()
    }
    if (picks("bm25")) timed("bm25") {
      // q111's shape at generated scale: tf explode + broadcast df/corpus
      val d = docs.select($"doc_id",
        graft.functions.TextFns.tokens($"text").as("toks"))
        .select($"doc_id", $"toks", size($"toks").cast("long").as("dl"))
      val corpus = d.agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
      val tf = d.select($"doc_id", $"dl", explode($"toks").as("term"))
        .filter($"term".isin("data", "spark", "query", "vector"))
        .groupBy($"doc_id", $"dl", $"term").agg(count(lit(1)).as("tf"))
      val df2 = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      tf.join(broadcast(df2), "term").crossJoin(broadcast(corpus))
        .withColumn("s", floor(
          log(lit(1.0) + ($"n_docs" - $"df" + lit(0.5)) / ($"df" + lit(0.5))) *
            ($"tf" * lit(2.2) / ($"tf" + lit(1.2) * (lit(0.25) +
              lit(0.75) * $"dl" / ($"sum_dl" / $"n_docs")))) * lit(1e9)))
        .groupBy($"doc_id").agg(sum($"s").as("score"))
        .count()
    }
    if (picks("merge")) timed("merge") {
      // q114's shape: CDC batch (10% deletes, 10% updates, 10% inserts)
      // applied to the corpus as one full-outer join
      val base = docs.select($"doc_id", $"source", $"n_chars")
      val ch = base.filter($"doc_id" % 10 === 0)
        .select($"doc_id", lit("D").as("op"),
          lit(null).cast("string").as("source"),
          lit(null).cast("long").as("n_chars"))
        .unionByName(base.filter($"doc_id" % 10 === 3)
          .select($"doc_id", lit("U").as("op"), $"source",
            ($"n_chars" + 1L).as("n_chars")))
        .unionByName(base.filter($"doc_id" % 10 === 7)
          .select(($"doc_id" + rows).as("doc_id"), lit("I").as("op"),
            $"source", $"n_chars"))
      graft.ext.MergeInto(base, ch, "doc_id").count()
    }
    if (picks("ppjoin")) timed("ppjoin") {
      // q138's exact prefix-filter similarity join at generated scale:
      // the df-bounded-bucket claim (shuffle keys are each doc's RAREST
      // shingles, so bucket sizes track df, not corpus size) is what
      // this probes — sub-linear pair volume as rows grow.
      //
      // The exact join's OUTPUT is inherently quadratic inside a
      // near-dup mega-cluster (this corpus clones 1% of docs from one
      // template: 10k docs at 1M rows → 5·10⁷ genuinely-qualifying
      // pairs — enough shuffle spill to fill a disk). No candidate
      // rule can dodge pairs that really qualify, so the production
      // composition is: star-capped fuzzy dedup collapses mega-clusters
      // FIRST, then the provably-complete exact join runs over the
      // survivors. That is what this probes.
      // n-gram order matters at scale: candidate volume is Σ df² over
      // prefix buckets, so the shingle space must dwarf the corpus.
      // This generator's 40-word vocabulary gives only 40³ = 64k
      // distinct 3-grams — at 1M docs even each doc's RAREST 3-gram
      // has df ≈ 10³ and the probe detonates (measured: >80 GB of
      // shuffle). Real text is effectively unbounded at n = 3; the toy
      // vocab needs n = 5 (40⁵ = 10⁸) for the same df profile.
      // dfCap (default 100, override SPARK_GRAFT_DFCAP): even after
      // dedup, this generator's shingle df grows with the corpus (the
      // 40-word vocab saturates the 5-gram space) — round-8 measured
      // 1M: 127 s → 2M: 570 s, the Σ df² curve. The cap drops
      // saturated shingles as join keys; recall loss is only pairs
      // whose EVERY shared prefix shingle exceeds the cap (see
      // similarityJoin Scaladoc). Round-9 measurements at 64g:
      // capped (100) 1M: 134 s → 2M: 402 s — the HEAD of the df
      // distribution is gone (4.5× → 3.0×); the residual growth is
      // mean-df doubling with corpus size (small-df Poisson collisions
      // across the whole saturated space), which no per-shingle cap
      // can remove — the knob for that regime is the n-gram order.
      val dfCap = sys.env.getOrElse("SPARK_GRAFT_DFCAP", "100").toLong
      val d = docs
      val pairs = graft.ext.TextDedup
        .lshCandidates(d, "text", "doc_id", starCap = 256)
      val keep = graft.ext.TextDedup
        .dedupFuzzyKeepIds(pairs, d.select($"doc_id"), nodeCol = "doc_id")
      graft.ext.TextDedup
        .similarityJoin(d.join(keep, Seq("doc_id"), "left_semi"),
          "text", "doc_id", ngram = 5, simNum = 1, simDen = 2, dfCap = dfCap)
        .count()
    }
    if (picks("contamination")) timed("contamination") {
      // q128's cross-source contamination matrix: distinct (source,
      // 5-gram) pairs, grouped in-bucket expansion — one shuffle on the
      // ngram hash, pair volume = sources², never docs².
      val sh = docs
        .withColumn("toks", graft.functions.TextFns.tokens($"text"))
        .select($"source",
          explode(array_distinct(
            graft.functions.TextFns.ngramsFromTokens($"toks", 5))).as("ng"))
        .distinct()
      val pairExp = flatten(transform($"srcs", (a, i) =>
        transform(slice($"srcs", i + lit(2), size($"srcs")),
          b => struct(a.as("source_a"), b.as("source_b")))))
      sh.groupBy($"ng")
        .agg(sort_array(collect_set($"source")).as("srcs"))
        .filter(size($"srcs") > 1)
        .select(explode(pairExp).as("p"))
        .groupBy($"p.source_a", $"p.source_b")
        .agg(count(lit(1)).as("shared_ngrams"))
        .count()
    }
    if (picks("triangles")) timed("triangles") {
      // ext/Graph.triangleCount (the q152 operator) over a synthetic
      // multiplicative-hash graph (~4 edges/node, hub-free by
      // construction plus a deliberate hub: node 0 links to every
      // 1000th node — the orientation must absorb it). Probes the
      // O(m^1.5) wedge bound at arbitrary node counts; the operator's
      // struct(degree, id) orientation key stays injective at ANY id
      // range (the old arithmetic d*1e8+id probe key collided once ids
      // reached the multiplier).
      val ids = docs.select($"doc_id".as("u"))
      val hash1 = (($"u" * 2654435761L) % rows + rows) % rows
      val hash2 = (($"u" * 40503L + 2654435761L) % rows + rows) % rows
      val hub = ids.filter($"u" % 1000 === 0)
        .select(lit(0L).as("a"), $"u".as("b"))
      val e = ids.select($"u".as("a"), hash1.as("b"))
        .union(ids.select($"u".as("a"), hash2.as("b")))
        .union(hub)
      graft.ext.Graph.triangleCount(e, srcCol = "a", dstCol = "b").count()
    }
    if (picks("pagerank")) timed("pagerank") {
      // ext/Graph.pageRank with the convergence probe ON (the
      // production configuration) on the symmetrized synthetic graph —
      // probes per-superstep join+agg cost and the probe's own price.
      val ids = docs.select($"doc_id".as("u"))
      val hash1 = (($"u" * 2654435761L) % rows + rows) % rows
      val half = ids.select($"u".as("a"), hash1.as("b")).filter($"a" =!= $"b")
      val e = half.union(half.select($"b".as("a"), $"a".as("b")))
      graft.ext.Graph.pageRank(e, "a", "b", maxIterations = 5).count()
    }
    if (picks("kcore")) timed("kcore") {
      // ext/Graph.kCore fixpoint peel on the same synthetic graph
      // (~4 edges/node ⇒ k=5 peels most of it, cascading several
      // rounds). Probes per-round cost on a shrinking edge set.
      val ids = docs.select($"doc_id".as("u"))
      val hash1 = (($"u" * 2654435761L) % rows + rows) % rows
      val hash2 = (($"u" * 40503L + 2654435761L) % rows + rows) % rows
      val e = ids.select($"u".as("a"), hash1.as("b"))
        .union(ids.select($"u".as("a"), hash2.as("b")))
      graft.ext.Graph.kCore(e, k = 5, srcCol = "a", dstCol = "b").count()
    }
    if (picks("lpa")) timed("lpa") {
      // ext/Graph.labelPropagation (4 sync rounds, early stop on) on the
      // same ~4-edges/node synthetic graph — probes the per-round
      // join + (node,label) agg + keyed-window argmax cost.
      val ids = docs.select($"doc_id".as("u"))
      val hash1 = (($"u" * 2654435761L) % rows + rows) % rows
      val hash2 = (($"u" * 40503L + 2654435761L) % rows + rows) % rows
      val e = ids.select($"u".as("a"), hash1.as("b"))
        .union(ids.select($"u".as("a"), hash2.as("b")))
      graft.ext.Graph.labelPropagation(e, maxRounds = 4,
        srcCol = "a", dstCol = "b").count()
    }
    if (picks("jlproject")) timed("jlproject") {
      // VectorIndex.randomProject 64 -> 16 dims over generated integer
      // pseudo-embeddings: per-row O(k·d) arithmetic, shuffle-free —
      // the probe confirms throughput is scan-bound (linear).
      val signs = graft.ext.VectorIndex.signMatrix(16, 64, "stress")
      val vec = transform(sequence(lit(1), lit(64)),
        i => (($"doc_id" * 31 + i.cast("long")) % 2000 - 1000)
          .cast("double") / 1000.0)
      val emb = docs.select($"doc_id", vec.cast("array<float>").as("v"))
      graft.ext.VectorIndex.randomProject(emb, "v", signs)
        .select(md5(to_json($"proj")))
        .queryExecution.toRdd.count()
    }
    if (picks("shard")) timed("shard") {
      docs.withColumn("shard", graft.operators.HashSplit.bucket($"doc_id", 64))
        .groupBy($"shard")
        .agg(count(lit(1)).as("n"), expr("bit_xor(doc_id)"))
        .count()
    }
    if (picks("dupspans")) timed("dupspans") {
      // TextDedup.dupSpans (the q161 operator) at generated scale. The
      // 40-word vocab saturates the 5-gram space exactly like the
      // ppjoin probe (40⁵ = 1e8 grams vs ~1e8 gram instances at 1M
      // docs ⇒ Poisson mean df ≈ 1, so ~26% of occupied grams are
      // "duplicated" by collision alone — a worst case real text never
      // hits at n=5). What this probes: the gram hash agg, the semi
      // join back, and the doc-keyed island windows all stay linear in
      // corpus size even when most grams qualify.
      graft.ext.TextDedup
        .dupSpans(docs, "text", "doc_id", k = 5, minCount = 2L)
        .count()
    }
    if (picks("dupspanshash")) timed("dupspanshash") {
      // dupSpans with hashGrams=true: the corpus-wide gram exchange
      // carries xxhash64(gram) — 8 bytes vs the gram text. Results are
      // spec-pinned ≡ the string mode; this probe prices the shuffle
      // difference against the `dupspans` probe at the same row count.
      graft.ext.TextDedup
        .dupSpans(docs, "text", "doc_id", k = 5, minCount = 2L,
          hashGrams = true)
        .count()
    }
    if (picks("semdedup")) timed("semdedup") {
      // VectorIndex.semanticDedup (the q163 operator) on synthetic
      // dim-32 vectors (components from xxhash64 so the sign pattern is
      // genuinely random per vector — a first cut used (g·M) mod 997
      // components whose sign pattern collapsed to <1k distinct
      // buckets, and 1M vectors in 1k buckets is 5·10⁸ candidate pairs
      // / 150+ GB of spill: exactly the saturation bucketCap now
      // guards), with 10 exact clones per distinct vector
      // (doc_id % (rows/10)): ~rows/10 components of 10, ~45 pair
      // edges each. Probes the sign-bucket pair expansion at bits=16
      // (65k buckets — the "add bits as the corpus grows" dial), the
      // bucketCap anti-join, and the CC loop over ~4.5 edges/doc.
      val dim = 32
      val g = $"doc_id" % (rows / 10)
      val vec = array((0 until dim).map { i =>
        ((xxhash64(g, lit(i)) % 1000L).cast("double") / 500.0).cast("float")
      }: _*)
      val emb = docs.select($"doc_id", vec.as("v"))
      graft.ext.VectorIndex
        .semanticDedup(emb, "v", "doc_id", tauBp = 9500, bits = 16,
          bucketCap = Some(10000L))
        .filter($"keep").count()
    }
    if (picks("jsmatrix")) timed("jsmatrix") {
      // q173's shape at generated scale: (source, token) agg → per-token
      // source→cnt map → × the broadcast 20-source pair grid (190
      // pairs). The |S|² fan-out rides the token-DISTINCT frame (the
      // generated vocab), so doubling docs should move only the
      // corpus-sized agg, not the grid stage.
      import org.apache.spark.sql.functions.{coalesce, collect_list,
        count, element_at, lit, map_from_entries, struct, sum, broadcast}
      val tok = docs.select($"source",
        explode(split(trim($"text"), "\\s+")).as("token"))
      val cnts = tok.groupBy($"source", $"token")
        .agg(count(lit(1)).as("cnt"))
      val totals = cnts.groupBy($"source").agg(sum($"cnt").as("tot"))
      val pairs = totals.as("l").join(totals.as("r"),
          $"l.source" < $"r.source")
        .select($"l.source".as("s1"), $"r.source".as("s2"),
          $"l.tot".as("at"), $"r.tot".as("bt"))
      cnts.groupBy($"token")
        .agg(map_from_entries(collect_list(struct($"source", $"cnt")))
          .as("m"))
        .crossJoin(broadcast(pairs))
        .select($"s1", $"s2",
          coalesce(element_at($"m", $"s1"), lit(0L)).as("a"),
          coalesce(element_at($"m", $"s2"), lit(0L)).as("b"))
        .filter($"a" + $"b" > 0)
        .groupBy($"s1", $"s2")
        .agg(sum($"a" * $"b").as("x"))
        .count()
    }
    if (picks("bpe")) timed("bpe") {
      // TrainPrep.bpeMerges (the q175 operator): the only corpus-sized
      // cost is the up-front word-count agg; the 8 merge rounds then
      // run on the BOUNDED distinct-word frame, so doubling `rows`
      // should move only the first agg — the flat-rounds claim q175
      // makes for 100 TB. (The generated vocab is small, which is the
      // point: round cost tracks vocab, not corpus.)
      val words = docs
        .select(explode(split(lower(trim($"text")), "\\s+")).as("word"))
        .filter($"word".rlike("^[a-z]+$"))
        .groupBy($"word").agg(count(lit(1)).as("cnt"))
      graft.ext.TrainPrep.bpeMerges(words, "word", "cnt", rounds = 8)
        ._1.count()
    }
    if (picks("wsample")) timed("wsample") {
      // TrainPrep.weightedSample (the q162 operator): Σw row expansion
      // (≤4×) + per-source md5 max-key agg + WindowGroupLimit top-k.
      // 20 generated sources ⇒ 20 groups; probes that the partial
      // top-k keeps the window shuffle at ~k rows per group.
      val d = docs.select($"doc_id", $"source",
        least(lit(1L) + expr("n_chars div 150"), lit(4L)).as("w"))
      graft.ext.TrainPrep
        .weightedSample(d, "doc_id", "source", "w", k = 100)
        .count()
    }
    if (picks("sketchmerge")) timed("sketchmerge") {
      // QuantileSketch (q159 operator) in its shard-then-merge shape at
      // 64 shards: per-shard DDSketches over n_chars, sum-merged, 5
      // quantiles read back. The only corpus-sized cost is the ONE
      // keyed agg building shard sketches; merge + quantiles touch
      // bucket rows only (64 shards × ~occupied buckets — thousands of
      // rows regardless of corpus size), so doubling `rows` should move
      // only the first agg.
      val shards = graft.ext.QuantileSketch.sketch(
        docs.select(($"doc_id" % 64).cast("int").as("shard"),
          ($"n_chars" + lit(1)).cast("double").as("v")),
        "v", alpha = 0.01, keyCols = Seq("shard"))
      val merged = graft.ext.QuantileSketch.merge(shards)
      graft.ext.QuantileSketch
        .quantiles(merged, alpha = 0.01, qsPermille = Seq(10, 250, 500, 750, 990))
        .count()
    }
    if (picks("bloomparts")) {
      val nBits = math.min(((rows / 10) * 10).max(1 << 16), (1L << 28)).toInt
      val dim = docs.filter($"doc_id" % 10 === 0).select($"doc_id".as("k"))
      timed("bloom-build") {
        graft.ext.BloomSketch.addAll(dim, "k", nBits).count()
      }
      timed("bloom-pack") {
        graft.ext.BloomSketch
          .packed(graft.ext.BloomSketch.addAll(dim, "k", nBits), nBits)
          .selectExpr("size(bloom)").head(); 1L
      }
      val bloom = broadcast(graft.ext.BloomSketch
        .packed(graft.ext.BloomSketch.addAll(dim, "k", nBits), nBits))
      timed("bloom-probe") {
        docs.select($"doc_id").crossJoin(bloom)
          .filter(graft.ext.BloomSketch
            .mightContain($"doc_id", $"bloom", nBits, 5))
          .count()
      }
      timed("bloom-anti") {
        // the full pruned anti join (what the `bloom` probe times in
        // one number): definite-miss passthrough + exact anti join on
        // the maybe slice — isolates the join stage the three stages
        // above feed
        graft.ext.BloomSketch
          .prunedAntiJoin(docs.select($"doc_id"), "doc_id", dim, "k", nBits)
          .count()
      }
    }
    if (picks("bloom")) timed("bloom") {
      // BloomSketch build + pruned anti join at generated scale: dim =
      // every 10th doc id (rows/10 keys), sized at 10 bits/key. The
      // corpus-sized costs are the dim's explode+bit_or agg (output ≤
      // m/64 rows) and the fact-side PROBE, which is a broadcast
      // expression in the scan stage — only the ~FP fraction plus true
      // members reach the anti-join shuffle. Expect ~linear in rows.
      val nBits = math.min(((rows / 10) * 10).max(1 << 16), (1L << 28)).toInt
      val dim = docs.filter($"doc_id" % 10 === 0).select($"doc_id".as("k"))
      graft.ext.BloomSketch
        .prunedAntiJoin(docs.select($"doc_id"), "doc_id", dim, "k", nBits)
        .count()
    }
    if (picks("bigramlm")) timed("bigramlm") {
      // LanguageModel train+score at generated scale: train on the
      // doc_id%10==0 slice, score the whole corpus. Both sides are
      // scan + keyed agg on the bigram-TYPE frame; the generated
      // 40-word vocab caps types at 1600, so scoring cost should track
      // the corpus scan, the model stages flat.
      val train = graft.ext.LanguageModel.bigramCounts(
        docs.filter($"doc_id" % 10 === 0), "text", "doc_id")
      val model = graft.ext.LanguageModel.bigramModel(train)
      graft.ext.LanguageModel
        .scoreBigrams(docs, "text", "doc_id", model)
        .count()
    }
    if (picks("ppr")) timed("ppr") {
      // personalizedPageRank, 3 supersteps over the doc→(doc div 3)
      // functional graph (rows edges, max in-degree 3), seeds = every
      // 1000th node: per round one src-partitioned join + one dst agg,
      // the pageRank probe's shape with restart mass concentrated.
      val e = docs.select($"doc_id".as("src"), ($"doc_id" / 3).cast("long").as("dst"))
        .filter($"src" =!= $"dst")
      val seeds = docs.filter($"doc_id" % 1000 === 0).select($"doc_id".as("node"))
      graft.ext.Graph.personalizedPageRank(e, seeds,
        maxIterations = 3, checkConvergence = false).count()
    }
    if (picks("pq")) timed("pq") {
      // PQ at generated scale: train on a bounded sample (10k vectors —
      // the 100 TB practice), ENCODE the full corpus (the corpus-sized
      // stage: one scan, m·k literal distance expressions, no shuffle),
      // then LUT-search the codes. Expect ~linear in rows, dominated
      // by encode.
      val dim = 32
      val g = $"doc_id" % 1000L
      val vec = array((0 until dim).map { i =>
        ((xxhash64(g, lit(i)) % 1000L).cast("double") / 500.0).cast("float")
      }: _*)
      val emb = docs.select($"doc_id", vec.as("v"))
      val cb = graft.ext.VectorIndex.pqTrain(
        emb.filter($"doc_id" < 10000L), "v", "doc_id",
        m = 4, k = 16, iterations = 2)
      val codes = graft.ext.VectorIndex.pqEncode(emb, "v", "doc_id", cb)
      val q = (0 until dim).map(_ => 0.5).toArray
      graft.ext.VectorIndex.pqSearch(codes, "doc_id", cb, q, k = 10).count()
    }
    if (picks("ivfpq")) timed("ivfpq") {
      // IVF-PQ at generated scale: BOTH quantizers train on a bounded
      // 10k sample (driver metadata — the trainSample contract); the
      // corpus-sized stages are one assign+residual+encode scan (no
      // shuffle) and the probed-cell LUT scan at search. Expect
      // ~linear in rows, dominated by encode, like flat pq — the
      // composition adds the coarse CASE but prunes the search scan.
      val dim = 32
      val g = $"doc_id" % 1000L
      val vec = array((0 until dim).map { i =>
        ((xxhash64(g, lit(i)) % 1000L).cast("double") / 500.0).cast("float")
      }: _*)
      val emb = docs.select($"doc_id", vec.as("v"))
      val idx = graft.ext.VectorIndex.ivfPqBuild(emb, "v", "doc_id",
        kCoarse = 8, coarseIters = 1, m = 4, kSub = 16, pqIters = 1,
        trainSample = Some(emb.filter($"doc_id" < 10000L)))
      val q = (0 until dim).map(_ => 0.5f).toArray
      graft.ext.VectorIndex
        .ivfPqSearch(idx.codes, "doc_id", idx, q, k = 10, nProbe = 2)
        .count()
    }
    if (picks("evalshelf")) {
      // The q217–q225 evaluation + drift shelves at generated scale:
      // dim-64 labeled vectors with a recoverable structure (component
      // i carries +3.0 when i ≡ label mod 10, plus xxhash noise in
      // [-1, 1]) so centroids genuinely classify. Every read-out is a
      // handful of rows; the corpus-sized costs are (a) ONE
      // per-label centroid aggregation per metric family and (b) one
      // codegen'd classification scan — both linear, no pair
      // expansion anywhere in these shelves. drift-jsd additionally
      // pays the two-pass global ntile sort over n_chars.
      val dim = 64
      val lab = ($"doc_id" % 10).cast("int")
      val vec = array((0 until dim).map { i =>
        (when(lit(i % 10) === lab, 3.0).otherwise(0.0) +
          (xxhash64($"doc_id", lit(i)) % 1000L).cast("double") / 500.0)
          .cast("float")
      }: _*)
      // Pin the synthesized vectors ONCE (a real pipeline reads
      // embeddings from storage as UnsafeArrayData; re-synthesizing a
      // 64-element array-constructor per scan is a fixture artifact —
      // and the constructor+operator consume method is exactly the
      // huge-method JIT case the build now flags around).
      val emb: DataFrame = docs
        .select($"doc_id".as("vec_id"), lab.as("label"), vec.as("embedding"))
        .localCheckpoint()
      // Pinning discipline (q197/q201): every agreement metric scans
      // its prediction frame 2-3× (totals + marginals + join), and an
      // unpinned lineage re-runs the full classification (and vector
      // synthesis) per scan. The narrow (id, label, pred) frame is
      // ~12 B/row — pin THAT, never the vectors.
      var p: DataFrame = null
      timed("eval-classify") {
        p = graft.ext.Eval.centroidPredictions(emb, "embedding", "label")
          .select($"vec_id", $"label", $"pred").localCheckpoint()
        p.count()
      }
      timed("eval-kappa") {
        graft.ext.Eval.cohenKappaPpm(p, "label", "pred").count()
      }
      timed("eval-prf1") {
        graft.ext.Eval.perClassPrf1(p, "label", "pred").count()
      }
      timed("eval-sil") {
        graft.ext.Eval.simplifiedSilhouette(emb, "embedding", "label").count()
      }
      timed("eval-ece") {
        val sp = graft.ext.Eval
          .centroidScoredPredictions(emb, "embedding", "label")
          .select($"label", $"pred", $"conf_micro").localCheckpoint()
        graft.ext.Eval
          .calibrationBins(sp, "label", "pred", "conf_micro").count()
      }
      timed("eval-fleiss") {
        val multi = graft.ext.Eval
          .multiWidthPredictions(emb, "embedding", "label", Seq(16, 32, 64))
          .select($"vec_id", $"pred_w16", $"pred_w32", $"pred_w64")
          .localCheckpoint()
        graft.ext.Eval.fleissKappaPpm(multi, "vec_id",
          Seq("pred_w16", "pred_w32", "pred_w64")).count()
      }
      timed("drift-mmd") {
        graft.ext.Drift.groupMeanShift(emb, "embedding", "label").count()
      }
      timed("spectral-pc1") {
        // 4 power steps = 4 one-agg scans (the mean FOLDS into the
        // first — r13 item 4); vector state never leaves the driver.
        // Rayleigh residuals price the iteration budget (r13 item 5).
        val (mu, pc, res) = graft.ext.Spectral
          .topComponentWithResiduals(emb, "embedding", iterations = 4)
        res.foreach { case (it, lambda, r) =>
          println(f"[stress] spectral-iter $it  lambda $lambda%.4g" +
            f"  residual ${r}%.3e")
        }
        graft.ext.Spectral.topShare(emb, "embedding", mu, pc).count()
      }
      timed("spectral-converged") {
        // the PRODUCTION entry point priced the same way the
        // oracle-parity fixed-iterations form is (r14 item 8): how
        // many scans does residual-driven convergence actually buy at
        // this corpus, vs the fixed 8 the q228 oracle unrolls?
        // a too-flat spectrum is a legitimate FINDING for this probe
        // (the library fails loudly by contract; the probe reports it
        // and moves on — at 1M this synthetic corpus' top pair is
        // near-degenerate and 1e-3 is genuinely unreachable)
        try {
          val (mu, pc, res) = graft.ext.Spectral
            .topComponentConverged(emb, "embedding", tol = 1e-3,
              maxIterations = 32)
          println(s"[stress] spectral-converged iters=${res.length}" +
            f" (fixed-oracle budget 8)  final-residual ${res.last._3}%.3e")
          graft.ext.Spectral.topShare(emb, "embedding", mu, pc).count()
        } catch {
          case e: IllegalStateException =>
            println(s"[stress] spectral-converged REFUSED: ${e.getMessage}")
            0L
        }
      }
      timed("spectral-top2") {
        // block power: BOTH directions advance per scan (k·dim + k
        // aggregates vs dim + 1) — prices the one-scan-per-step claim
        // against the k = 1 probe above
        val (mu2, vs2, _) = graft.ext.Spectral
          .topSubspace(emb, "embedding", k = 2, iterations = 8)
        graft.ext.Spectral.subspaceShare(emb, "embedding", mu2, vs2)
          .count()
      }
      timed("drift-jsd") {
        // narrow projection pinned: withNtile's range sort reads its
        // input ~3× (partitioner sample + sort + rank pass), and each
        // unpinned read re-synthesizes doc text just to take n_chars —
        // a parquet scan would read the pruned column instead
        val narrow = docs.select($"doc_id", $"source", $"n_chars")
          .localCheckpoint()
        val binned = graft.operators.GlobalRank.withNtile(
          narrow, Seq($"n_chars", $"doc_id"), tiles = 10, tileCol = "bin")
        graft.ext.Drift.jsDivergenceBinned(binned, "source", "bin").count()
      }
      graft.operators.GlobalRank.releaseCache()
    }
    if (picks("stats2")) {
      // the q252+ two-sample / association shelf at generated scale.
      // ks/cvm/w1/mwu/kw all fold over the VALUE HISTOGRAM (distinct
      // n_chars is bounded, so everything after the one corpus
      // groupBy is metadata — the r16 join-free double-rank form);
      // spearman folds the (x, y) PAIR histogram; bh explodes n·m·B
      // coins but folds them map-side into an m·B-row frame — the
      // probe prices exactly that explode-vs-fold trade.
      val narrow = docs.select($"doc_id", $"n_chars", $"lang",
          expr("CASE WHEN lang = 'en' THEN 1 ELSE 0 END").as("g"))
        .localCheckpoint()
      timed("st2-ks") {
        graft.ext.Stats.ksTwoSample(
          narrow.select($"n_chars".as("v"), $"g"), "v", "g").count()
      }
      timed("st2-cvm") {
        graft.ext.Stats.cvmTwoSample(
          narrow.select($"n_chars".as("v"), $"g"), "v", "g").count()
      }
      timed("st2-w1") {
        graft.ext.Stats.wasserstein1(
          narrow.select($"n_chars".as("v"), $"g"), "v", "g").count()
      }
      timed("st2-mwu") {
        graft.ext.Stats.mannWhitneyZ(narrow, "n_chars", "g")
          .count()
      }
      timed("st2-kw") {
        graft.ext.Stats.kruskalWallis(narrow, "n_chars", "lang")
          .count()
      }
      timed("st2-spearman") {
        // n_chars vs a derived second axis: the pair-histogram fold
        graft.ext.Stats.spearmanRho(
          narrow.select($"n_chars".as("x"),
            ($"n_chars" % 97 + $"doc_id" % 13).as("y")), "x", "y")
          .count()
      }
      timed("st2-perm32") {
        graft.ext.Stats.permutationMeanDiff(narrow, "n_chars", "g",
          "doc_id", reps = 32).count()
      }
      timed("st2-bh64") {
        // m=5 langs × B=64 at alpha=0.1 (resolution law reps+1 >= m/a)
        graft.ext.Stats.bhRandomizationTests(narrow, "n_chars", "lang",
          "doc_id", reps = 64, alphaPpm = 100000L).count()
      }
      timed("st2-resample") {
        graft.ext.Stats.systematicResample(narrow, "doc_id", "n_chars",
          m = 100).agg(sum($"mult")).head(); rows
      }
      timed("st2-winnow") {
        // fingerprint density ~2/(w+1) of grams; per-row array
        // selection (zero shuffle), md5-hashing-bound
        graft.ext.TextDedup.winnowFingerprints(
          docs, "doc_id", "text", k = 4, w = 5).count()
      }
      timed("st2-cover") {
        val counts = docs
          .select(explode(graft.functions.TextFns.tokens($"text"))
            .as("tok"))
          .groupBy($"tok").agg(count(lit(1)).as("cnt"))
        graft.ext.Stats.coverageCurve(counts, "tok", "cnt",
          Seq(1L, 10L, 100L, 1000L)).count()
      }
      graft.operators.GlobalRank.releaseCache()
    }
    if (picks("evalparts")) {
      // component isolation for the evalshelf classify path
      val dim = 64
      val lab = ($"doc_id" % 10).cast("int")
      val vec = array((0 until dim).map { i =>
        (when(lit(i % 10) === lab, 3.0).otherwise(0.0) +
          (xxhash64($"doc_id", lit(i)) % 1000L).cast("double") / 500.0)
          .cast("float")
      }: _*)
      def emb: DataFrame = docs
        .select($"doc_id".as("vec_id"), lab.as("label"), vec.as("embedding"))
      timed("ep-vecgen") {
        emb.select(element_at($"embedding", 1).as("x"))
          .agg(count($"x")).head(); rows
      }
      timed("ep-centagg") {
        emb.groupBy($"label").agg(array((1 to dim).map(i =>
          (sum(element_at($"embedding", i)) / count(lit(1)))
            .cast("float")): _*).as("c")).count()
      }
      var cents: Array[(Int, Array[Float])] = null
      timed("ep-centcollect") {
        cents = emb.groupBy($"label").agg(array((1 to dim).map(i =>
          (sum(element_at($"embedding", i)) / count(lit(1)))
            .cast("float")): _*).as("c")).collect()
          .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
        cents.length.toLong
      }
      timed("ep-argmax") {
        emb.select(graft.plans.VectorExpressions
            .cosineArgmax($"embedding", cents).getField("pred").as("p"))
          .agg(sum($"p")).head(); rows
      }
      timed("ep-ckpt") {
        emb.select($"vec_id", $"label",
            graft.plans.VectorExpressions
              .cosineArgmax($"embedding", cents).getField("pred").as("pred"))
          .localCheckpoint().count()
      }
      // same argmax over a MATERIALIZED embedding column (UnsafeArrayData
      // rows, not the projection's boxed GenericArrayData)
      val pinned = emb.localCheckpoint()
      timed("ep-argmax-pinned") {
        pinned.select(graft.plans.VectorExpressions
            .cosineArgmax($"embedding", cents).getField("pred").as("p"))
          .agg(sum($"p")).head(); rows
      }
      // and the struct-free score read (is the struct output the cost?)
      timed("ep-dots-pinned") {
        pinned.select((0 until 10).map(c =>
            graft.functions.VectorFns.dot($"embedding",
              array(cents(c)._2.map(lit(_)): _*).cast("array<float>"))
              .as(s"d$c")): _*)
          .agg(sum($"d0") + sum($"d9")).head(); rows
      }
    }
    if (picks("megaparts")) {
      // stage-isolated variant of megapipe (the bloomparts pattern):
      // each stage materializes (localCheckpoint) and times separately
      val d = docs
      var s1: DataFrame = null
      timed("mp-lm") {
        val counts = graft.ext.LanguageModel
          .bigramCounts(d.filter($"doc_id" % 10 === 0), "text", "doc_id")
        val model = graft.ext.LanguageModel.bigramModel(counts)
        val lmKeep = graft.ext.LanguageModel
          .scoreBigrams(d, "text", "doc_id", model)
          .filter($"nll_avg_micro" <= 6000000L).select($"doc_id")
        s1 = d.join(lmKeep, Seq("doc_id"), "left_semi").localCheckpoint()
        s1.count()
      }
      // GRAFT_STRESS_DIM is the 8M+ dial the mpBits doctrine names:
      // bits caps at dim/bands, and at 8M docs a 32-dim corpus
      // saturates that cap (bits 16 → 122 docs/bucket → ~1e9 candidate
      // pairs → >80 GB of spill, measured disk-full). dim 64 lets bits
      // keep tracking log2(n/64) through 8M.
      val dim = sys.env.getOrElse("GRAFT_STRESS_DIM", "32").toInt
      val g = $"doc_id" - $"doc_id" % 5
      val vec = array((0 until dim).map { i =>
        ((xxhash64(g, lit(i)) % 1000L).cast("double") / 500.0).cast("float")
      }: _*)
      var s2: DataFrame = null
      timed("mp-dedup") {
        val emb = s1.select($"doc_id".as("vec_id"), vec.as("embedding"))
        val mpBits2 = math.min(dim / 2, math.max(10,
          (math.log(rows.toDouble / occTarget) / math.log(2.0)).ceil.toInt))
        val kept = graft.ext.VectorIndex
          .semanticDedup(emb, "embedding", "vec_id", tauBp = 9900,
            bits = mpBits2, bands = 2, bucketCap = Some(2000L))
          .filter($"keep").select($"vec_id".as("doc_id"))
        s2 = s1.join(kept, Seq("doc_id"), "left_semi").localCheckpoint()
        s2.count()
      }
      var s3: DataFrame = null
      timed("mp-decontam") {
        val eval0 = d.filter($"doc_id" % 37 === 0).select($"text".as("k"))
        s3 = graft.ext.BloomSketch.prunedAntiJoin(s2, "text", eval0, "k")
          .localCheckpoint()
        s3.count()
      }
      var s4: DataFrame = null
      timed("mp-dsir") {
        val impKeep = graft.ext.TrainPrep
          .dsirImportance(s3, s3.filter($"doc_id" % 10 === 3), "text", "doc_id")
          .filter($"imp_micro" > 0L).select($"doc_id")
        s4 = s3.join(impKeep, Seq("doc_id"), "left_semi").localCheckpoint()
        s4.count()
      }
      timed("mp-mix-pack") {
        val mix = s4.groupBy($"source")
          .agg(count(lit(1)).as("n_docs"), sum(length($"text")).as("chars"))
        val cmin = mix.agg(min($"chars").as("chars_min"))
        val keepN = mix.crossJoin(broadcast(cmin))
          .select($"source",
            expr("""(n_docs * CAST(floor(sqrt(CAST(chars_min AS DOUBLE)
                   |  / chars) * 1000000.0) AS BIGINT) + 999999)
                   |  div 1000000""".stripMargin).as("keep_n"))
        val s5 = graft.operators.GlobalRank
          .withKeyedRank(s4, Seq("source"), Seq($"doc_id"), "rn")
          .join(broadcast(keepN), "source")
          .filter($"rn" <= $"keep_n").drop("rn", "keep_n")
        graft.ext.TrainPrep
          .pack(s5, "doc_id", "source", "text", tokenCap = 2048)
          .count()
      }
    }
    if (picks("megapipe")) timed("megapipe") {
      // q197's six-stage curation pipeline at generated scale — the
      // would-it-hold-at-100x probe for the megapipeline itself. The
      // blocking knobs SCALE WITH n where the gate query's couldn't:
      // bits = 14 (16k buckets/band — sign blocking needs bits ≈
      // log2 n, the semanticDedup scaladoc contract) with bands = 2 +
      // bucketCap. Synthetic embeddings: clusters of 5 identical
      // hash-derived vectors (200k clusters at 1M docs) so the dedup
      // stage has REAL work; tau 9900 keeps only near-identicals.
      val d = docs
      // sign-blocking bits scale with log2(n): in-bucket pair volume is
      // n²/2^bits per band, so FIXED bits detonate at 4x corpus
      // (measured: bits=14 at 4M docs spilled >60 GB in the pair
      // exchange). dim/2 (bands = 2) caps bits — at the default dim 32
      // that's 16 (~4M docs at 64/bucket) and 8M saturates it
      // (measured disk-full); GRAFT_STRESS_DIM=64 is the documented
      // dial past that.
      val dim = sys.env.getOrElse("GRAFT_STRESS_DIM", "32").toInt
      val mpBits = math.min(dim / 2, math.max(10,
        (math.log(rows.toDouble / occTarget) / math.log(2.0)).ceil.toInt))
      val counts = graft.ext.LanguageModel
        .bigramCounts(d.filter($"doc_id" % 10 === 0), "text", "doc_id")
      val model = graft.ext.LanguageModel.bigramModel(counts)
      val lmKeep = graft.ext.LanguageModel
        .scoreBigrams(d, "text", "doc_id", model)
        .filter($"nll_avg_micro" <= 6000000L).select($"doc_id")
      // EVERY stage pins (localCheckpoint) — q197's discipline: DSIR
      // reads its input twice (raw + target), prunedAntiJoin twice
      // (definite-miss + maybe), the dedup blocker many times; left
      // unpinned, the chain re-evaluates multiplicatively (measured:
      // 1,222 s at 1M with only one pin vs ~170 s fully pinned)
      var s1: DataFrame = null
      timed("mg-lm") {
        s1 = d.join(lmKeep, Seq("doc_id"), "left_semi").localCheckpoint()
        s1.count()
      }
      gcWindow()
      val g = $"doc_id" - $"doc_id" % 5
      val vec = array((0 until dim).map { i =>
        ((xxhash64(g, lit(i)) % 1000L).cast("double") / 500.0).cast("float")
      }: _*)
      val emb = s1.select($"doc_id".as("vec_id"), vec.as("embedding"))
      var s2: DataFrame = null
      // semanticDedup's CC fixpoint materializes EAGERLY at call time
      // (localCheckpoint per round) — the timer must wrap the CALL,
      // not just the downstream join, or the pipeline's dominant
      // stage cost lands in no stage line (the round-13 gotcha)
      timed("mg-dedup") {
        val kept = graft.ext.VectorIndex
          .semanticDedup(emb, "embedding", "vec_id", tauBp = 9900,
            bits = mpBits, bands = 2, bucketCap = Some(2000L))
          .filter($"keep").select($"vec_id".as("doc_id"))
        s2 = s1.join(kept, Seq("doc_id"), "left_semi").localCheckpoint()
        s2.count()
      }
      gcWindow()
      val eval0 = d.filter($"doc_id" % 37 === 0).select($"text".as("k"))
      var s3: DataFrame = null
      timed("mg-decontam") {
        s3 = graft.ext.BloomSketch.prunedAntiJoin(s2, "text", eval0, "k")
          .localCheckpoint()
        s3.count()
      }
      gcWindow()
      val impKeep = graft.ext.TrainPrep
        .dsirImportance(s3, s3.filter($"doc_id" % 10 === 3), "text", "doc_id")
        .filter($"imp_micro" > 0L).select($"doc_id")
      var s4: DataFrame = null
      timed("mg-dsir") {
        s4 = s3.join(impKeep, Seq("doc_id"), "left_semi")
          .localCheckpoint()
        s4.count()
      }
      gcWindow()
      val mix = s4.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum(length($"text")).as("chars"))
      val cmin = mix.agg(min($"chars").as("chars_min"))
      val keepN = mix.crossJoin(broadcast(cmin))
        .select($"source",
          expr("""(n_docs * CAST(floor(sqrt(CAST(chars_min AS DOUBLE)
                 |  / chars) * 1000000.0) AS BIGINT) + 999999)
                 |  div 1000000""".stripMargin).as("keep_n"))
      gcWindow()
      // the outer line reports the PACKED row count — the cross-run
      // sanity invariant (a blocking-stage typo that silently keeps 0
      // docs must not print an identical-looking summary)
      var packed = 0L
      timed("mg-mix-pack") {
        val s5 = graft.operators.GlobalRank
          .withKeyedRank(s4, Seq("source"), Seq($"doc_id"), "rn")
          .join(broadcast(keepN), "source")
          .filter($"rn" <= $"keep_n").drop("rn", "keep_n")
        packed = graft.ext.TrainPrep
          .pack(s5, "doc_id", "source", "text", tokenCap = 2048)
          .count()
        packed
      }
      packed
    }
    if (picks("topk")) {
      // A/B: per-source top-100 (4 sources — the low-cardinality-key
      // worst case) via (a) the plain windowed row_number <= k, which
      // Spark 3.5+ rewrites with InferWindowGroupLimit (map-side
      // partial top-k before the shuffle, so the per-key final sort
      // sees only k·#maps rows), vs (b) the hand-salted two-phase
      // GroupedTopK. Decides whether the salted operator earns its
      // second shuffle anywhere, or the built-in rewrite owns this.
      import org.apache.spark.sql.expressions.Window
      val d = docs.select($"doc_id", $"source", length($"text").as("len"))
      timed("topk-window") {
        val w = Window.partitionBy($"source")
          .orderBy($"len".desc, $"doc_id".asc)
        d.withColumn("rk", row_number().over(w))
          .filter($"rk" <= 100).count()
      }
      timed("topk-salted") {
        graft.operators.GroupedTopK
          .topK(d, Seq("source"), Seq($"len".desc, $"doc_id".asc), k = 100)
          .count()
      }
    }
    if (picks("lcspan")) timed("lcspan") {
      // TextDedup.longestCommonSpan (q194 operator) with a FIXED
      // 1000-pair candidate list while the corpus scales: the verify
      // joins route gram occurrences through the pair list, so the
      // cost should track the corpus gram SCAN (keyed join probe),
      // not pairs × corpus.
      val half = rows / 2
      val pairs = docs.filter($"doc_id" < 1000L)
        .select($"doc_id".as("a"), ($"doc_id" + half).as("b"))
      graft.ext.TextDedup
        .longestCommonSpan(pairs, docs, "text", "doc_id", k = 5)
        .count()
    }
    if (picks("annrecall")) {
      // recall@10 read-out for the compressed ANN rungs at generated
      // scale: brute cosine top-10 on a FIXED 100-query panel is ground
      // truth; flat PQ and IVF-PQ (the q191/q199 builds, sample-trained
      // like the pq/ivfpq cost probes) are scored against it. Unlike
      // those cost probes this one generates DISTINCT vectors per doc
      // (g = doc_id) — the 1000-distinct-clone corpus they share would
      // make every true neighbor an exact duplicate and recall
      // meaningless. The brute pass is ONE windowed job (rank<=10 gets
      // the WindowGroupLimit pushdown, so the qid shuffle carries ~10
      // rows per (map partition, qid)); the PQ/IVF-PQ passes run the
      // panel through the production search calls — per-query LUT
      // scans over cached codes.
      //
      // Corpus structure: clusters of 10 docs around hash-derived
      // centers with ±5% per-doc noise — each query's true top-10 is
      // its 9 cluster-mates plus one outsider, so recall@10 directly
      // reads "does the quantizer resolve the cluster". Two corpus
      // shapes that DON'T price anything, measured: pure-random
      // vectors (no neighbor structure at dim 32 — every point
      // equidistant, recall ~0.03 for any quantizer) and clusters of
      // 100 (all mates tie on one code, the (adist, id) tie-break
      // floods top-10 with the 10 lowest-id mates — recall ~10/99
      // regardless of quantizer quality).
      val dim = 32
      val cl = $"doc_id" - $"doc_id" % 10
      val vec = array((0 until dim).map { i =>
        (((xxhash64(cl, lit(i)) % 1000L).cast("double") / 500.0) +
          ((xxhash64($"doc_id", lit(i + 1000)) % 1000L).cast("double")
            / 10000.0)).cast("float")
      }: _*)
      val emb = docs.select($"doc_id", vec.as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      emb.count()
      val step = math.max(1L, rows / 100L)
      val panel = emb.filter($"doc_id" % step === 0L &&
          $"doc_id" < step * 100L)
        .select($"doc_id".as("qid"), $"v".as("qv"))
      val panelRows = panel.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      var brute = Map.empty[Long, Set[Long]]
      timed("annrecall-brute") {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"qid").orderBy($"cos".desc, $"doc_id")
        brute = emb.crossJoin(broadcast(panel))
          .filter($"doc_id" =!= $"qid")
          .select($"qid", $"doc_id",
            graft.functions.VectorFns.cosine($"v", $"qv").as("cos"))
          .withColumn("rk", row_number().over(w)).filter($"rk" <= 10)
          .select($"qid", $"doc_id").collect()
          .groupBy(_.getLong(0)).view
          .mapValues(_.map(_.getLong(1)).toSet).toMap
        brute.size.toLong
      }
      val trainS = Some(emb.filter($"doc_id" < 10000L))
      val cb = graft.ext.VectorIndex.pqTrain(
        trainS.get, "v", "doc_id", m = 4, k = 16, iterations = 2)
      val codes = graft.ext.VectorIndex.pqEncode(emb, "v", "doc_id", cb)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      codes.count()
      val ivf = graft.ext.VectorIndex.ivfPqBuild(emb, "v", "doc_id",
        kCoarse = 8, coarseIters = 1, m = 4, kSub = 16, pqIters = 1,
        trainSample = trainS)
      val icodes = ivf.codes
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      icodes.count()
      var pqHit = 0L
      var ivfHit = 0L
      timed("annrecall-pq") {
        panelRows.foreach { case (qid, qv) =>
          val top = graft.ext.VectorIndex
            .pqSearch(codes.filter($"doc_id" =!= qid), "doc_id", cb,
              qv.map(_.toDouble), k = 10)
            .collect().map(_.getLong(0))
          pqHit += top.count(brute.getOrElse(qid, Set.empty).contains)
        }
        pqHit
      }
      timed("annrecall-ivfpq") {
        panelRows.foreach { case (qid, qv) =>
          val top = graft.ext.VectorIndex
            .ivfPqSearch(icodes.filter($"doc_id" =!= qid), "doc_id", ivf,
              qv, k = 10, nProbe = 2)
            .collect().map(_.getLong(0))
          ivfHit += top.count(brute.getOrElse(qid, Set.empty).contains)
        }
        ivfHit
      }
      val nq = panelRows.length.max(1)
      println(f"[stress] annrecall recall@10: pq_flat ${pqHit / 10.0 / nq}%.3f" +
        f"  ivf_pq(nProbe=2/8) ${ivfHit / 10.0 / nq}%.3f  ($nq queries)")
      emb.unpersist(); codes.unpersist(); icodes.unpersist()
    }
    if (picks("bm25probe")) {
      // amortized probe economics for the BUCKETED postings (q198's
      // contract): ONE build, then N=100 term-set searches against the
      // catalog-backed bucketed index vs the in-memory index. The
      // bucketed path's per-probe scan prunes to the terms' buckets
      // (SelectedBucketsCount <= |terms|) — per-probe cost should stay
      // flat as the corpus grows, while the in-memory path rescans the
      // whole (cached) postings frame per probe.
      val vocab = Array("the", "a", "data", "table", "row", "scan",
        "join", "agg", "key", "value", "fast", "slow", "batch", "stream",
        "spark", "query", "filter", "group", "window", "hash", "merge",
        "sort", "part", "small", "big", "line", "order", "customer",
        "vector", "column")
      def termsOf(i: Int): Seq[String] =
        Seq(vocab(i % 30), vocab((i * 7 + 3) % 30), vocab((i * 13 + 11) % 30))
          .distinct
      val built = graft.ext.Index.build(docs, "text", "doc_id")
      val bucketed = graft.ext.Index.writeBucketed(built, spark,
        "graft_stress_bm25", numBuckets = 32)
      timed("bm25probe-bucketed") {
        (0 until 100).map(i =>
          bucketed.search(termsOf(i), k = 10).count()).sum
      }
      timed("bm25probe-mem") {
        (0 until 100).map(i =>
          built.search(termsOf(i), k = 10).count()).sum
      }
      built.unpersist()
      Seq("graft_stress_bm25_postings", "graft_stress_bm25_dict",
        "graft_stress_bm25_stats")
        .foreach(tbl => spark.sql(s"DROP TABLE IF EXISTS $tbl"))
    }
    if (picks("textprofile")) timed("textprofile") {
      // Profile.textProfile (q177/q178 shelf) at generated scale: one
      // tokenize+explode scan into the (source, token) count frame,
      // then folds on the token-DISTINCT frame only — cost should
      // track the corpus scan, with the fold flat in `rows`.
      graft.ext.Profile.textProfile(docs, "text", "source").count()
    }
    if (picks("acscan")) {
      // q212's matcher at generated scale, A/B against the built-in
      // formulation with an IDENTICAL plan shape (explode matched
      // patterns → per-pattern counts) — only the matcher differs:
      // one Aho–Corasick automaton pass vs one contains() rescan of
      // the text PER PATTERN. Swept over blocklist SIZE because that
      // is the argument: the chain's cost is linear in |patterns|
      // while the automaton's is flat (the DFA table grows, the scan
      // doesn't). Patterns are word triples off the generator vocab,
      // so they hit the same match machinery the real blocklist does.
      // vocab comes FROM the generator (not a copied literal), so a
      // DocGen wording change can't silently turn the probe into an
      // empty-match benchmark
      val vocab = graft.sources.DocGen.words.take(16).toSeq
      val allPats = (for (x <- vocab; y <- vocab) yield s"$x $y $x").distinct
      // untimed warmup: the FIRST execution of each arm carries JVM /
      // codegen cost that would land on whichever row runs first
      // (measured: 2.5-4.2 s vs 0.6-0.8 s steady on the same AC arm);
      // both matchers warm on a 10k-doc slice
      val warm = docs.limit(10000)
      warm.select(explode(graft.plans.StringMatchExpressions
        .multiMatch($"text", allPats.take(16))).as("p")).count()
      warm.select(explode(filter(array(allPats.take(16).map(lit): _*),
        p => $"text".contains(p))).as("p")).count()
      for (nPats <- Seq(16, 64, 256)) {
        val pats = allPats.take(nPats)
        timed(s"acscan-ac-$nPats") {
          docs.select(explode(graft.plans.StringMatchExpressions
              .multiMatch($"text", pats)).as("p"))
            .groupBy($"p").count().count()
        }
        gcWindow()
        timed(s"acscan-chain-$nPats") {
          docs.select(explode(filter(array(pats.map(lit): _*),
              p => $"text".contains(p))).as("p"))
            .groupBy($"p").count().count()
        }
        gcWindow()
      }
    }
    if (picks("kmv")) {
      // q213's sketch at generated scale: per-source k = 256 KMV over
      // word bigrams. The whole reduction is one tokenize/explode scan
      // plus an O(sources × k) aggregate — no exact-distinct shuffle —
      // so wall time should track the scan linearly; the saturated
      // buffer rejects all but ~k/n_distinct of inputs with one string
      // compare. (Generated vocab is 30 words ⇒ ≤900 distinct bigrams;
      // k = 256 genuinely subsamples.) Two arms price the HASH choice:
      // md5 hex is the ORACLE-stable rendering q213 gates on;
      // xxhash64 is what a production deployment would feed the same
      // sketch (any uniform element rendering satisfies its contract).
      val kmv = udaf(graft.functions.KmvSketch(256),
        org.apache.spark.sql.Encoders.STRING)
      def run(hash: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Long =
        docs
          .select($"source", split($"text", " ").as("ts"))
          // size >= 2 guard: Spark's sequence(1, 0) DESCENDS, so a
          // one-token doc would index element_at(ts, 0) and die — the
          // same guard every other bigram builder in the repo carries
          .select($"source", explode(when(size($"ts") >= 2,
            transform(sequence(lit(1), size($"ts") - 1),
              i => concat(element_at($"ts", i), lit(" "),
                element_at($"ts", i + 1)))).otherwise(array())).as("g"))
          .select($"source", hash($"g").as("h"))
          .groupBy($"source").agg(kmv($"h").as("sk"))
          .agg(sum(size($"sk"))).collect()(0).getLong(0)
      // GRAFT_STRESS_KMV_ORDER=xx64first flips arm order — the probe
      // self-loads the box, so a cross-arm call needs both orders
      // (the megapipe adjudication lesson applied within one session)
      val arms = Seq(
        "kmv-md5" -> (() => run(md5)),
        "kmv-xx64" -> (() => run(c => format_string("%016x", xxhash64(c)))))
      val ordered = if (sys.env.get("GRAFT_STRESS_KMV_ORDER")
          .contains("xx64first")) arms.reverse else arms
      ordered.foreach { case (name, body) =>
        timed(name)(body()); gcWindow()
      }
    }
    if (picks("semdd")) {
      // r13 item 7: TWO blocking geometries for the same semantic-dedup
      // decision — banded sign-LSH buckets (q163) vs k-means
      // cluster-scoped all-pairs (q215, the SemDeDup shape). Fixture:
      // dim-32 vectors in 5-clone groups (group signal + per-doc
      // noise), the duplication factor the bucket-occupancy rule
      // targets. Per size: analytic pairs-examined for each geometry
      // (Σ C(occupants, 2) from the bucket/cell counts — exact, no
      // detonation needed), dups found, and wall time. The structural
      // asymmetry this prices: LSH occupancy is FREE to tune (bits
      // cost nothing), while cluster occupancy is bought with k
      // classification flops — at affordable k the cells stay big and
      // the within-cell all-pairs goes quadratic.
      val dim = 32
      def embOf(n: Long): DataFrame = {
        val d = spark.read.format("graftdocs")
          .option("rows", n).option("partitions", cpus.toInt * 2).load()
        // integral div: `/` on Columns is DOUBLE division — it would
        // give every doc a unique "group" and silently de-clone the
        // fixture
        val grp = expr("doc_id div 5")
        val vec = array((0 until dim).map { i =>
          ((xxhash64(grp, lit(i)) % 1000L).cast("double") / 500.0 +
            (xxhash64($"doc_id", lit(i + 777)) % 100L).cast("double")
              / 5000.0).cast("float")
        }: _*)
        d.select($"doc_id".as("vec_id"), vec.as("embedding"))
          .localCheckpoint()
      }
      def pairVolume(counts: DataFrame): BigInt = BigInt(counts
        .agg(sum(col("count").cast("decimal(38,0)") * (col("count") - 1)))
        .head().getDecimal(0).toBigInteger) / 2
      for (n <- Seq(rows / 10, rows / 4, rows)) {
        val emb = embOf(n)
        val bits = math.max(4, math.min(24,
          (math.log(n.toDouble / occTarget) / math.log(2)).round.toInt))
        val lshVol = pairVolume(emb.select(graft.functions.VectorFns
          .signBucket($"embedding", bits).as("b")).groupBy($"b").count())
        println(s"[stress] semdd-$n lsh bits=$bits analytic pairs=$lshVol")
        timed(s"semdd-lsh-$n") {
          graft.ext.VectorIndex.semanticDedup(emb, "embedding", "vec_id",
            tauBp = 9000, bits = bits).filter(!$"keep").count()
        }
        gcWindow()
        val k = 256
        var cents: Array[Array[Float]] = null
        timed(s"semdd-train-$n") {
          cents = graft.ext.VectorIndex.trainCentroids(
            emb, "embedding", k = k, iterations = 2)
          cents.length.toLong
        }
        val assignedCells = graft.ext.VectorIndex
          .assignCells(emb, "embedding", cents).localCheckpoint()
        val cellVol = pairVolume(assignedCells.groupBy($"cell").count())
        println(s"[stress] semdd-$n cluster k=$k analytic pairs=$cellVol")
        if (cellVol < BigInt(500000000L)) {
          timed(s"semdd-cluster-$n") {
            graft.ext.VectorIndex.semanticDedupClustered(emb, "embedding",
              "vec_id", cents, tauBp = 9000).filter(!$"keep").count()
          }
        } else println(s"[stress] semdd-cluster-$n SKIPPED — analytic " +
          s"pairs $cellVol at affordable k=$k (that IS the finding)")
        gcWindow()
        // the operator-side fix: (cell × sign sub-bucket) keys — the
        // SHARED occupancy law (largest b with k·occ·2^b ≤ n keeps
        // expected cell×bucket occupancy ≥ occTarget), the same
        // derivation q241 replays in its oracle
        val subBits = graft.ext.VectorIndex.occupancySubBits(
          n, k = k, occTarget = occTarget, maxBits = 24)
        val hierVol = pairVolume(assignedCells
          .withColumn("sub",
            graft.functions.VectorFns.signBucket($"embedding", subBits))
          .groupBy($"cell", $"sub").count())
        println(s"[stress] semdd-$n hier k=$k subBits=$subBits" +
          s" analytic pairs=$hierVol")
        if (hierVol < BigInt(500000000L)) {
          timed(s"semdd-hier-$n") {
            graft.ext.VectorIndex.semanticDedupClustered(emb, "embedding",
              "vec_id", cents, tauBp = 9000, subBits = subBits)
              .filter(!$"keep").count()
          }
        } else println(s"[stress] semdd-hier-$n SKIPPED — analytic " +
          s"pairs $hierVol")
        gcWindow()
      }
    }
    if (picks("gramblock")) {
      // r13 verdict item: price all-grams vs df-rarest-prefix blocking
      // for edit-distance joins on a ZIPF-SKEWED name corpus — TPC-H
      // part names hide the hazard (templated vocabulary, flat gram
      // df); natural-language entity names put a constant fraction of
      // the corpus on the hottest bigram, and all-grams blocking
      // shuffles Σ_g C(df(g), 2) candidate pairs through that key.
      //
      // The probe's own first run surfaced the SECOND dial: at q = 2
      // the gram VOCABULARY (26² letter pairs) saturates — every gram
      // is hot once n ≫ |Σ|², so even the rarest prefix goes
      // quadratic (measured: 2.6e8 candidates at 100k names, 12×
      // under all-grams but the same exponent). Prefix filtering is
      // near-linear only while |Σ|^q ≫ n, so the sweep prices the
      // GRAM ORDER q ∈ {2,3,4} alongside the blocker: per (n, q) the
      // exact analytic candidate volume of BOTH forms (Σ C(df, 2)
      // from the df table — no need to detonate a join to know its
      // size), and wall time where the volume permits. Names are
      // 12–20 chars from a 100-slot natural-letter-frequency table
      // (e≈12%, t≈9%, …), hashed off the row id — deterministic,
      // zero IO.
      val letterSlots =
        "eeeeeeeeeeee" + "ttttttttt" + "aaaaaaaa" + "oooooooo" +
        "iiiiiii" + "nnnnnnn" + "ssssss" + "hhhhhh" + "rrrrrr" +
        "dddd" + "llll" + "ccc" + "uuu" + "mm" + "ww" + "ff" + "gg" +
        "yy" + "pp" + "b" + "v" + "k" + "j" + "x"
      require(letterSlots.length == 100, s"slots ${letterSlots.length}")
      val lut = array(letterSlots.map(c => lit(c.toString)): _*)
      def entityNames(n: Long): DataFrame = spark.range(n)
        .repartition(cpus.toInt * 2)
        .select($"id", concat_ws("",
          transform(sequence(lit(1), lit(12) + pmod(xxhash64($"id"), lit(9)).cast("int")),
            i => element_at(lut, (pmod(xxhash64($"id" * 131L + i),
              lit(100)) + 1).cast("int")))).as("name"))
        .localCheckpoint()
      def pairVol(df: DataFrame,
          cnt: org.apache.spark.sql.Column): BigInt = BigInt(df
        .agg(sum(cnt.cast("decimal(38,0)") * (cnt - 1))).head()
        .getDecimal(0).toBigInteger) / 2
      val cap = BigInt(sys.env.getOrElse("GRAFT_GRAMBLOCK_CAP",
        "200000000").toLong)
      for (n <- Seq(rows / 40, rows / 4, rows); q <- Seq(2, 3, 4)) {
        val nm = entityNames(n)
        val budget = 2 * q // lev <= 2 destroys <= k*q grams
        val tg = graft.ext.TextDedup.taggedGrams(nm, "id", "name", q)
          .localCheckpoint()
        val dfreq = tg.groupBy($"g", $"o").agg(count(lit(1)).as("df"))
          .localCheckpoint()
        val allVol = pairVol(dfreq, $"df")
        val pfx = graft.ext.TextDedup.gramPrefix(tg, dfreq, budget + 1)
        val pfxVol = pairVol(
          pfx.groupBy($"g", $"o").agg(count(lit(1)).as("c")), $"c")
        println(f"[stress] gramblock n=$n q=$q allgrams-vol=$allVol" +
          f" prefix-vol=$pfxVol (load1 $load1%.1f)")
        if (allVol < cap) timed(s"gb-allgrams-$n-q$q") {
          tg.as("a").join(tg.as("b"),
              $"a.g" === $"b.g" && $"a.o" === $"b.o" &&
                $"a.str" < $"b.str")
            .select($"a.id", $"b.id").distinct().count()
        } else println(s"[stress] gb-allgrams-$n-q$q SKIPPED — analytic" +
          s" volume $allVol (that IS the finding)")
        gcWindow()
        if (pfxVol < cap) timed(s"gb-prefix-$n-q$q") {
          graft.ext.TextDedup.edJoinCandidates(nm, "id", "name",
            nm, "id", "name", q = q, destroyBudget = budget,
            selfPairs = true).count()
        } else println(s"[stress] gb-prefix-$n-q$q SKIPPED — analytic" +
          s" volume $pfxVol (gram space saturated: grow q)")
        gcWindow()
      }
    }
    spark.stop()
  }
}
