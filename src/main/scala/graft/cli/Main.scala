package graft.cli

import org.apache.spark.sql.{Observation, SparkSession}

import graft.ingest.{RideCsv, StationCsv}
import graft.metrics.{DailyMetrics, MetricsJson}
import graft.store.{Backfill, RidesTable}
import graft.streaming.StatusStream
import graft.transform.RideTransform

/** CLI mirroring the reference's entry points (§3 of SURVEY.md):
  * bike_rides_cli / compute_daily_metrics / pipeline / backfill_distance.
  *
  * Driver-side orchestration only — every data operation is a lazy Spark
  * plan inside the library modules. (The reference's HTTP discovery /
  * download steps are environment IO, out of the engine's scope here.)
  *
  * Usage:
  *   load <ridesCsv> <stationsCsv> <storePath>
  *   load-checked <ridesCsv> <stationsCsv> <storePath>
  *   load-folder <csvDir> <stationsCsv> <storePath> <interimDir>
  *   fetch-latest <portalUrl> <rawDir>
  *   metrics-day <storePath> <yyyy-MM-dd> <outJson>
  *   metrics-year <storePath> <year> <outJson>
  *   metrics-latest <storePath> <outJson>
  *   status-once <snapshotDir> <eventsPath>
  *   stream <landingDir> <eventsPath> <statePath> <checkpointDir>
  *   backfill <storePath>
  *   dedup <docsParquet> <idCol> <textCol> <outParquet>
  *   profile <parquet> <col1,col2,...>
  *   sessionize <eventsParquet> <keyCol> <tsCol> <gapSec> <outParquet>
  *   chunk <docsParquet> <idCol> <textCol> <size> <stride> <outParquet>
  *   mix <docsParquet> <sourceCol> <textCol> <invTemp> <outParquet>
  *   pack <docsParquet> <idCol> <shardCol> <textCol> <cap> <outParquet>
  *   similarity-join <docsParquet> <idCol> <textCol> <num>/<den> <outParquet>
  *   triangles <edgesParquet> <srcCol> <dstCol>
  *   kcore <edgesParquet> <srcCol> <dstCol> <k> <outParquet>
  *   pagerank <edgesParquet> <srcCol> <dstCol> <maxIter> <outParquet>
  *   quantiles <parquet> <valueCol> <alphaPct> <q1,q2,...permille>
  *   dup-spans <docsParquet> <idCol> <textCol> <k> <minCount> <outParquet>
  *   weighted-sample <parquet> <idCol> <groupCol> <weightCol> <k> <outParquet>
  *   semantic-dedup <embParquet> <idCol> <vecCol> <tauBp> <bits> [<bands>] <outParquet>
  *   bpe <docsParquet> <textCol> <rounds> <outParquet>
  *   bpe-encode <docsParquet> <textCol> <mergesParquet> <outParquet>
  *   text-profile <docsParquet> <textCol> <groupCol> <outParquet>
  *   search <docsParquet> <idCol> <textCol> <term1,term2,...> <k>
  *   score-lm <trainParquet> <scoreParquet> <idCol> <textCol> <outParquet>
  *   bloom-prune <factParquet> <factKey> <dimParquet> <dimKey> <numBits> <outParquet>
  *   ppr <edgesParquet> <srcCol> <dstCol> <seedsParquet> <seedCol> <maxIter> <outParquet>
  *   rrf <listAParquet> <listBParquet> <idCol> <scoreCol> <k> <outParquet>
  *   pq-encode <embParquet> <idCol> <vecCol> <m> <k> <iters> <outParquet>
  *   mmr <candParquet> <simsParquet> <idCol> <relCol> <k> <outParquet>
  *   split <docsParquet> <strataCol> <idCol> <valPpm> <testPpm> <outParquet>
  *   datasheet <docsParquet> <sourceCol> <textCol> <langCol>
  *   textrank <docsParquet> <textCol> <iters> <k>
  *   blocklist <docsParquet> <idCol> <textCol> <p1,p2,...> <outParquet>
  *   reshard <parquet> <idCol> <n> <outDir>
  *   source-overlap <docsParquet> <groupCol> <textCol> <k>
  *   semdedup-kmeans <embParquet> <idCol> <vecCol> <cells> <iters> <tauBp> <outParquet>
  *   eval-report <embParquet> <vecCol> <labelCol> <outDir>
  *   drift-report <parquet> <groupCol> <valueCol> <idCol> <tiles> <outParquet>
  *   abtt <embParquet> <vecCol> <iters> <outParquet>
  */
object Main {

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.build(appName = "graft-bike")
    try run(spark, args.toList)
    finally spark.stop()
  }

  def run(spark: SparkSession, args: List[String]): Unit = args match {
    case "load" :: csv :: stationsCsv :: store :: Nil =>
      loadRides(spark, csv, stationsCsv, store, gated = false)

    // load, gated by the rides data contract (see loadRides)
    case "load-checked" :: csv :: stationsCsv :: store :: Nil =>
      loadRides(spark, csv, stationsCsv, store, gated = true)

    // load-folder (reference bike_rides_cli.py cmd_load): every CSV in
    // the folder, in name order, each with an interim cleaned-CSV write.
    case "load-folder" :: dir :: stationsCsv :: store :: interim :: Nil =>
      val stations = StationCsv.read(spark, stationsCsv)
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.toLowerCase.endsWith(".csv")).map(_.getPath).sorted
      if (files.isEmpty) sys.error(s"No CSV files in $dir")
      files.foreach { f =>
        val name = new java.io.File(f).getName.stripSuffix(".csv")
        val cleaned = RideTransform(RideCsv.read(spark, f), stations)
        graft.store.CsvSink.writeInterim(cleaned, s"$interim/${name}_clean")
        RidesTable.append(spark, cleaned, store)
        println(s"Processed file: ${new java.io.File(f).getName}")
      }

    // fetch-latest (reference cmd_latest): scrape portal, pick the
    // newest filename-dated CSV, download with skip-if-exists.
    case "fetch-latest" :: portalUrl :: rawDir :: Nil =>
      val html = new String(
        java.net.URI.create(portalUrl).toURL.openStream().readAllBytes(),
        "UTF-8")
      val urls = HttpIO.extractCsvUrls(html, portalUrl)
      HttpIO.pickLatestCsv(urls) match {
        case Some((url, name)) =>
          val year = HttpIO.extractDtFromFilename(name)
            .map(_.getYear).getOrElse(java.time.LocalDate.now.getYear)
          val f = HttpIO.downloadFile(url, s"$rawDir/$year")
          println(s"downloaded ${f.getPath}")
        case None => sys.error("No CSV links found")
      }

    case "stream" :: landing :: events :: state :: checkpoint :: Nil =>
      val q = StatusStream.start(spark, landing, events, state, checkpoint)
      q.awaitTermination()

    case "metrics-day" :: store :: day :: out :: Nil =>
      val m = DailyMetrics.forDay(RidesTable.read(spark, store), day)
      MetricsJson.mergeDay(out, m)
      println(s"Updated $day in: $out")

    case "metrics-year" :: store :: yearStr :: out :: Nil =>
      val year = yearStr.toInt
      val all = DailyMetrics.allDaysTyped(
        RidesTable.read(spark, store)
          .filter(org.apache.spark.sql.functions.year(
            org.apache.spark.sql.functions.col("start_time")) === year))
        .collect().toSeq
      MetricsJson.mergeYear(out, year, all)
      println(s"Wrote yearly metrics for $year to: $out")

    case "metrics-latest" :: store :: out :: Nil =>
      val rides = RidesTable.read(spark, store)
      DailyMetrics.latestDate(rides) match {
        case Some(day) =>
          MetricsJson.mergeDay(out, DailyMetrics.forDay(rides, day))
          println(s"Updated $day in: $out")
        case None => sys.error("No rows found in table; cannot determine latest date.")
      }

    case "status-once" :: dir :: events :: Nil =>
      val n = StatusStream.runOnce(spark, dir, events)
      println(s"recorded $n events")

    case "backfill" :: store :: Nil =>
      // the filled rows are counted on the rewrite's own write
      import org.apache.spark.sql.functions.count_if
      val obs = Observation()
      val rides = RidesTable.read(spark, store)
        .observe(obs, count_if(Backfill.fillable).as("n"))
      val tmp = store + "_backfill_tmp"
      Backfill(rides).write.mode("overwrite").partitionBy("ride_date").parquet(tmp)
      val n = obs.get("n").asInstanceOf[Long]
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(store).getFileSystem(conf)
      fs.delete(new org.apache.hadoop.fs.Path(store), true)
      fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(store))
      println(s"backfilled $n distances in $store")

    // ---- extension-surface subcommands (SURVEY §7.5 operators) ----

    // dedup <docsParquet> <idCol> <textCol> <outParquet>: exact + fuzzy
    // (LSH candidates → connected components → keep min id per cluster).
    case "dedup" :: in :: idCol :: textCol :: out :: Nil =>
      val docs = spark.read.parquet(in)
      // starCap bounds mega-cluster pair blowup; components unchanged
      val pairs = graft.ext.TextDedup
        .lshCandidates(docs, textCol, idCol, starCap = 1024)
      val keep = graft.ext.TextDedup
        .dedupFuzzyKeepIds(pairs, docs.select(idCol), nodeCol = idCol)
      val kept = docs.join(keep, Seq(idCol), "left_semi")
      kept.write.mode("overwrite").parquet(out)
      println(s"kept ${kept.count()} of ${docs.count()} docs into $out")

    // profile <parquet> <col1,col2,...>: per-column quality stats.
    case "profile" :: in :: cols :: Nil =>
      graft.ext.Profile.profile(spark.read.parquet(in),
          cols.split(",").toIndexedSeq)
        .orderBy("col_name")
        .show(truncate = false)

    // sessionize <eventsParquet> <keyCol> <tsCol> <gapSec> <outParquet>
    case "sessionize" :: in :: key :: ts :: gap :: out :: Nil =>
      val stats = graft.operators.Sessionize
        .sessionStats(spark.read.parquet(in), Seq(key), ts, gap.toLong)
      stats.write.mode("overwrite").parquet(out)
      println(s"wrote per-key session stats to $out")

    // redact <docsParquet> <textCol> <outParquet>: PII scrub + audit.
    case "redact" :: in :: textCol :: out :: Nil =>
      import org.apache.spark.sql.functions.col
      val docs = spark.read.parquet(in)
      val scrubbed = docs.withColumn(textCol,
        graft.functions.TextFns.redactPii(col(textCol)))
      scrubbed.write.mode("overwrite").parquet(out)
      val audits = graft.functions.TextFns.PiiPatterns.map { case (p, tag) =>
        val n = docs.select(org.apache.spark.sql.functions
          .sum(graft.functions.TextFns.piiCount(col(textCol), p))).head()
        s"$tag=${if (n.isNullAt(0)) 0L else n.getLong(0)}"
      }
      println(s"redacted ${audits.mkString(" ")} into $out")

    // shard <docsParquet> <idCol> <n> <outDir>: deterministic shard
    // split, one subdir per shard + a manifest parquet.
    case "shard" :: in :: idCol :: n :: out :: Nil =>
      import org.apache.spark.sql.functions._
      val docs = spark.read.parquet(in)
      val sharded = docs.withColumn("shard",
        graft.operators.HashSplit.bucket(col(idCol), n.toInt))
      sharded.write.mode("overwrite").partitionBy("shard").parquet(out)
      sharded.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("min_id"),
          max(col(idCol)).as("max_id"), expr(s"bit_xor($idCol)").as("checksum"))
        .write.mode("overwrite").parquet(out + "_manifest")
      println(s"wrote ${n.toInt} shards + manifest under $out")

    // similarity-join <docsParquet> <idCol> <textCol> <num>/<den> <out>:
    // EXACT all-pairs Jaccard >= num/den (PPJoin prefix filter, zero
    // false negatives) — run dedup first if the corpus may hold
    // mega-clusters (pair lists are inherently quadratic inside one).
    case "similarity-join" :: in :: idCol :: textCol :: frac :: out :: Nil =>
      val Array(num, den) = frac.split("/").map(_.trim.toInt)
      val pairs = graft.ext.TextDedup.similarityJoin(
        spark.read.parquet(in), textCol, idCol, simNum = num, simDen = den)
      pairs.write.mode("overwrite").parquet(out)
      println(s"wrote ${pairs.count()} pairs with jaccard >= $num/$den to $out")

    // chunk <docsParquet> <idCol> <textCol> <size> <stride> <outParquet>:
    // overlapping context-window chunks (training-row preprocessing).
    case "chunk" :: in :: idCol :: textCol :: size :: stride :: out :: Nil =>
      val chunks = graft.ext.TrainPrep.chunk(
        spark.read.parquet(in), idCol, textCol, size.toInt, stride.toInt)
      chunks.write.mode("overwrite").parquet(out)
      println(s"wrote ${chunks.count()} chunks (size=$size stride=$stride) to $out")

    // mix <docsParquet> <sourceCol> <textCol> <invTemp> <outParquet>:
    // per-source temperature resampling weights (invTemp = 1/T).
    case "mix" :: in :: sourceCol :: textCol :: invTemp :: out :: Nil =>
      val weights = graft.ext.TrainPrep.temperatureMix(
          spark.read.parquet(in), sourceCol, textCol, invTemp.toDouble)
        .orderBy(sourceCol)
      weights.write.mode("overwrite").parquet(out)
      weights.show(truncate = false)

    // pack <docsParquet> <idCol> <shardCol> <textCol> <cap> <outParquet>:
    // fixed token-budget batch assignment per shard.
    case "pack" :: in :: idCol :: shardCol :: textCol :: cap :: out :: Nil =>
      val packed = graft.ext.TrainPrep.pack(
        spark.read.parquet(in), idCol, shardCol, textCol, cap.toInt)
      packed.write.mode("overwrite").parquet(out)
      val nBatches = packed.select(shardCol, "batch_id").distinct().count()
      println(s"packed ${packed.count()} docs into $nBatches batches (cap=$cap) at $out")

    // triangles <edgesParquet> <srcCol> <dstCol>: exact triangle count
    // via degree-ordered orientation (ext/Graph.triangleCount).
    case "triangles" :: in :: src :: dst :: Nil =>
      val n = graft.ext.Graph
        .triangleCount(spark.read.parquet(in), src, dst)
        .head().getLong(0)
      println(s"$n triangles")

    // kcore <edgesParquet> <srcCol> <dstCol> <k> <outParquet>: fixpoint
    // k-core peel; writes surviving (node, degree) rows.
    case "kcore" :: in :: src :: dst :: k :: out :: Nil =>
      val core = graft.ext.Graph
        .kCore(spark.read.parquet(in), k.toInt, src, dst)
      core.write.mode("overwrite").parquet(out)
      println(s"k=${k.toInt} core has ${core.count()} nodes, written to $out")

    // pagerank <edgesParquet> <srcCol> <dstCol> <maxIter> <outParquet>:
    // integer PageRank to fixpoint (or maxIter); writes (node, d, r).
    case "pagerank" :: in :: src :: dst :: maxIter :: out :: Nil =>
      val ranks = graft.ext.Graph.pageRank(
        spark.read.parquet(in), src, dst, maxIterations = maxIter.toInt)
      ranks.write.mode("overwrite").parquet(out)
      println(s"ranked ${ranks.count()} nodes (ppt, damping 0.85) to $out")

    // quantiles <parquet> <valueCol> <alphaPct> <q1,q2,...permille>:
    // mergeable DDSketch-style quantile profile (positive values).
    case "quantiles" :: in :: valueCol :: alphaPct :: qs :: Nil =>
      val alpha = alphaPct.toDouble / 100.0
      val sk = graft.ext.QuantileSketch.sketch(
        spark.read.parquet(in), valueCol, alpha)
      graft.ext.QuantileSketch.quantiles(sk, alpha,
          qs.split(",").toIndexedSeq.map(_.trim.toInt))
        .orderBy("q_permille")
        .show(truncate = false)

    // dup-spans <docsParquet> <idCol> <textCol> <k> <minCount> <outParquet>:
    // maximal corpus-repeated k-gram spans per document (substring-level
    // exact dedup report).
    case "dup-spans" :: in :: idCol :: textCol :: k :: minCount :: out :: Nil =>
      val spans = graft.ext.TextDedup.dupSpans(
        spark.read.parquet(in), textCol, idCol, k.toInt, minCount.toLong)
      spans.write.mode("overwrite").parquet(out)
      println(s"wrote ${spans.count()} duplicated spans (k=$k, min=$minCount) to $out")

    // weighted-sample <parquet> <idCol> <groupCol> <weightCol> <k> <outParquet>:
    // deterministic A-ES weighted sample, k rows per group.
    case "weighted-sample" :: in :: idCol :: grpCol :: wCol :: k :: out :: Nil =>
      val sample = graft.ext.TrainPrep.weightedSample(
        spark.read.parquet(in), idCol, grpCol, wCol, k.toInt)
      sample.write.mode("overwrite").parquet(out)
      println(s"sampled ${sample.count()} rows (k=$k per $grpCol) to $out")

    // semantic-dedup <embParquet> <idCol> <vecCol> <tauBp> <bits>
    // [<bands>] <outParquet>: embedding near-dup clusters, keep min-id
    // representative; bands > 1 = the banded-recall knob (q180).
    case "semantic-dedup" :: in :: idCol :: vecCol :: tauBp :: bits :: out :: Nil =>
      semanticDedupCmd(spark, in, idCol, vecCol, tauBp.toInt, bits.toInt,
        bands = 1, out)
    case "semantic-dedup" :: in :: idCol :: vecCol :: tauBp :: bits ::
        bands :: out :: Nil =>
      semanticDedupCmd(spark, in, idCol, vecCol, tauBp.toInt, bits.toInt,
        bands.toInt, out)

    // lpa <edgesParquet> <srcCol> <dstCol> <maxRounds> <outParquet>:
    // deterministic synchronous label-propagation communities.
    case "lpa" :: in :: src :: dst :: maxRounds :: out :: Nil =>
      val labels = graft.ext.Graph.labelPropagation(
        spark.read.parquet(in), maxRounds.toInt, src, dst)
      labels.write.mode("overwrite").parquet(out)
      val nComm = labels.select("label").distinct().count()
      println(s"$nComm communities over ${labels.count()} nodes to $out")

    // rake <parquet> <dim1,dim2,...> <rounds> <outParquet>: integer IPF
    // cell weights fitting UNIFORM marginals on every listed dimension.
    case "rake" :: in :: dimsArg :: rounds :: out :: Nil =>
      val df = spark.read.parquet(in)
      val dims = dimsArg.split(",").toList
      val targets = dims.map { dcol =>
        val vals = df.select(dcol).distinct()
        val k = vals.count() // bounded: distinct values of one dimension
        vals.withColumn("t",
          org.apache.spark.sql.functions.lit(1000000L / math.max(k, 1L)))
      }
      val cells = graft.ext.TrainPrep.rake(df, dims, targets, rounds.toInt)
      cells.write.mode("overwrite").parquet(out)
      println(s"raked ${cells.count()} cells over ${dims.mkString("x")} to $out")

    // jl-project <embParquet> <vecCol> <outDim> <seed> <outParquet>:
    // integer-exact ±1 JL projection (md5 sign matrix).
    case "jl-project" :: in :: vecCol :: outDim :: seed :: out :: Nil =>
      val df = spark.read.parquet(in)
      val d = df.select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col(vecCol))).head().getInt(0)
      val signs = graft.ext.VectorIndex.signMatrix(outDim.toInt, d, seed)
      val proj = graft.ext.VectorIndex.randomProject(df, vecCol, signs)
      proj.write.mode("overwrite").parquet(out)
      println(s"projected ${proj.count()} vectors $d -> ${outDim.toInt} dims to $out")

    // bpe <docsParquet> <textCol> <rounds> <outParquet>: BPE merge
    // training over the corpus's word-frequency table; writes the
    // merge table, prints the trajectory.
    case "bpe" :: in :: textCol :: rounds :: out :: Nil =>
      import org.apache.spark.sql.functions.{col, count, explode, lit,
        lower, split, trim}
      val words = spark.read.parquet(in)
        .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
        .filter(col("word").rlike("^[a-z]+$"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      val (merges, _) = graft.ext.TrainPrep.bpeMerges(
        words, "word", "cnt", rounds.toInt)
      merges.write.mode("overwrite").parquet(out)
      merges.orderBy("round").collect().foreach { r =>
        println(s"round ${r.getAs[Long]("round")}: '${r.getAs[String]("pair")}' " +
          s"-> '${r.getAs[String]("merged")}' (${r.getAs[Long]("pair_cnt")} " +
          s"pairs, vocab ${r.getAs[Long]("vocab_after")}, " +
          s"tokens ${r.getAs[Long]("tokens_after")})")
      }

    // bpe-encode <docsParquet> <textCol> <mergesParquet> <outParquet>:
    // tokenize the corpus's word table with merges learned by `bpe`.
    case "bpe-encode" :: in :: textCol :: mergesIn :: out :: Nil =>
      import org.apache.spark.sql.functions.{col, count, explode, lit,
        lower, split, trim}
      val merges = spark.read.parquet(mergesIn)
        .orderBy("round").collect() // bounded: one row per learned merge
        .flatMap(r => Option(r.getAs[String]("pair")))
        .toSeq
      val words = spark.read.parquet(in)
        .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
        .filter(col("word").rlike("^[a-z]+$"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      val enc = graft.ext.TrainPrep.bpeEncode(words, "word", merges)
      enc.write.mode("overwrite").parquet(out)
      val vocab = enc
        .select(explode(split(col("sym"), " ")).as("s"))
        .distinct().count()
      println(s"encoded ${enc.count()} words with ${merges.size} merges " +
        s"($vocab symbols) to $out")

    // text-profile <docsParquet> <textCol> <groupCol> <outParquet>:
    // per-group + corpus token diversity (TTR ppm, entropy micro-nats).
    case "text-profile" :: in :: textCol :: groupCol :: out :: Nil =>
      val prof = graft.ext.Profile
        .textProfile(spark.read.parquet(in), textCol, groupCol)
      prof.write.mode("overwrite").parquet(out)
      val all = prof.filter(org.apache.spark.sql.functions
        .col("grp") === "__all__").head()
      println(s"profiled ${prof.count() - 1} groups; corpus: " +
        s"${all.getAs[Long]("n_tokens")} tokens, " +
        s"${all.getAs[Long]("n_types")} types, " +
        s"ttr ${all.getAs[Long]("ttr_ppm")} ppm, " +
        s"entropy ${all.getAs[Long]("entropy_micro_nat")} µnat to $out")

    // search <docsParquet> <idCol> <textCol> <terms,csv> <k>: build the
    // BM25 inverted index and print the top-k (doc, score_nano) hits.
    case "search" :: in :: idCol :: textCol :: terms :: k :: Nil =>
      val idx = graft.ext.Index
        .build(spark.read.parquet(in), textCol, idCol)
      try idx.search(terms.split(",").toIndexedSeq.map(_.trim), k.toInt)
        .collect()
        .foreach(r => println(s"${r.get(0)}\t${r.getLong(1)} nano " +
          s"(${r.getLong(2)} terms)"))
      finally idx.unpersist()

    // score-lm <trainParquet> <scoreParquet> <idCol> <textCol> <out>:
    // train the interpolated bigram LM on one corpus, score another by
    // avg per-transition NLL (micro-nats; low = fluent under training).
    case "score-lm" :: train :: in :: idCol :: textCol :: out :: Nil =>
      val model = graft.ext.LanguageModel.bigramModel(
        graft.ext.LanguageModel
          .bigramCounts(spark.read.parquet(train), textCol, idCol))
      val scored = graft.ext.LanguageModel
        .scoreBigrams(spark.read.parquet(in), textCol, idCol, model)
      scored.write.mode("overwrite").parquet(out)
      println(s"scored ${scored.count()} docs (nll micro-nats) to $out")

    // bloom-prune <factParquet> <factKey> <dimParquet> <dimKey>
    // <numBits> <out>: anti join fact against dim with a Bloom
    // pre-filter so definite non-members skip the shuffle.
    case "bloom-prune" :: fact :: fk :: dim :: dk :: bits :: out :: Nil =>
      val res = graft.ext.BloomSketch.prunedAntiJoin(
        spark.read.parquet(fact), fk, spark.read.parquet(dim), dk,
        numBits = bits.toInt)
      res.write.mode("overwrite").parquet(out)
      println(s"kept ${res.count()} fact rows not in $dim.$dk to $out")

    // ppr <edgesParquet> <srcCol> <dstCol> <seedsParquet> <seedCol>
    // <maxIter> <out>: personalized PageRank — proximity to the seed
    // set in integer ppt; writes (node, d, r).
    case "ppr" :: in :: src :: dst :: seeds :: seedCol :: maxIter :: out :: Nil =>
      val ranks = graft.ext.Graph.personalizedPageRank(
        spark.read.parquet(in), spark.read.parquet(seeds),
        src, dst, seedCol, maxIterations = maxIter.toInt)
      ranks.write.mode("overwrite").parquet(out)
      println(s"ranked ${ranks.count()} nodes around seeds to $out")

    // rrf <listAParquet> <listBParquet> <idCol> <scoreCol> <k> <out>:
    // reciprocal-rank-fuse two bounded ranked lists (RRF k0=60).
    case "rrf" :: la :: lb :: idCol :: scoreCol :: k :: out :: Nil =>
      val fused = graft.ext.Retrieval.rrfFuse(
          Seq("a" -> spark.read.parquet(la), "b" -> spark.read.parquet(lb)),
          idCol, scoreCol)
        .limit(k.toInt)
      fused.write.mode("overwrite").parquet(out)
      println(s"fused top-${k.toInt} of 2 lists to $out")

    // pq-encode <embParquet> <idCol> <vecCol> <m> <k> <iters> <out>:
    // train a product-quantization codebook (L2 k-means per subspace)
    // and write each vector's m-centroid code — the compressed
    // representation the PQ search scans instead of raw vectors.
    case "pq-encode" :: in :: idCol :: vecCol :: m :: k :: iters :: out :: Nil =>
      val emb = spark.read.parquet(in)
      val cb = graft.ext.VectorIndex.pqTrain(emb, vecCol, idCol,
        m.toInt, k.toInt, iters.toInt)
      val codes = graft.ext.VectorIndex.pqEncode(emb, vecCol, idCol, cb)
      codes.write.mode("overwrite").parquet(out)
      println(s"encoded ${codes.count()} vectors as ${m.toInt}x" +
        s"${k.toInt}-centroid codes to $out")

    // mmr <candParquet> <simsParquet> <idCol> <relCol> <k> <out>:
    // maximal-marginal-relevance diversified top-k over a bounded
    // candidate list; sims = (a, b, sim) pairwise, shared units.
    case "mmr" :: cand :: sims :: idCol :: relCol :: k :: out :: Nil =>
      val sel = graft.ext.Retrieval.mmrSelect(
        spark.read.parquet(cand), spark.read.parquet(sims),
        idCol, relCol, k = k.toInt)
      sel.write.mode("overwrite").parquet(out)
      println(s"selected ${sel.count()} of top-${k.toInt} by MMR to $out")

    // split <docsParquet> <strataCol> <idCol> <valPpm> <testPpm> <out>:
    // stratified EXACT-count val/test/train split (guaranteed
    // per-stratum allocations), deterministic multiplicative-hash
    // pseudo-shuffle on the id column.
    case "split" :: in :: strata :: idCol :: valPpm :: testPpm :: out :: Nil =>
      import org.apache.spark.sql.functions.col
      val d = spark.read.parquet(in)
      val key = ((col(idCol).cast("long") % 1048576L) * 2654435761L) %
        4294967296L
      val res = graft.ext.TrainPrep.stratifiedSplit(d, Seq(strata),
        Seq(key, col(idCol)),
        Seq("val" -> valPpm.toLong, "test" -> testPpm.toLong))
      res.write.mode("overwrite").parquet(out)
      val counts = res.groupBy(col("split"))
        .count().orderBy(col("split")).collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", ")
      println(s"split ${res.count()} rows by $strata ($counts) to $out")

    // datasheet <docsParquet> <sourceCol> <textCol> <langCol>: print
    // the per-source dataset-card summary (bounded: one row/source).
    case "datasheet" :: in :: sourceCol :: textCol :: langCol :: Nil =>
      graft.ext.Profile
        .datasheet(spark.read.parquet(in), sourceCol, textCol, langCol)
        .orderBy(sourceCol).collect()
        .foreach(r => println(s"${r.getString(0)}\tdocs=${r.getLong(1)} " +
          s"chars=${r.getLong(2)} mean=${r.getLong(3)} " +
          s"short=${r.getLong(4)}ppm dup=${r.getLong(5)}ppm " +
          s"langs=${r.getLong(6)} top=${r.getString(7)}"))

    // textrank <docsParquet> <textCol> <iters> <k>: TextRank keywords
    // (PageRank centrality over the token co-occurrence graph).
    case "textrank" :: in :: textCol :: iters :: k :: Nil =>
      graft.ext.Profile
        .textRankKeywords(spark.read.parquet(in), textCol,
          iterations = iters.toInt, k = k.toInt)
        .collect()
        .foreach(r => println(s"${r.getString(0)}\t${r.getLong(1)} ppt"))

    // blocklist <docsParquet> <idCol> <textCol> <p1,p2,...> <outParquet>:
    // Aho–Corasick tagging — rows containing ≥1 blocklist phrase, with
    // the matched phrases, in one text pass per row.
    case "blocklist" :: in :: idCol :: textCol :: patternsCsv :: out :: Nil =>
      import org.apache.spark.sql.functions._
      val pats = patternsCsv.split(",").toSeq
      val flagged = spark.read.parquet(in)
        .select(col(idCol), graft.plans.StringMatchExpressions
          .multiMatch(col(textCol), pats).as("matched"))
        .filter(size(col("matched")) > 0)
      flagged.write.mode("overwrite").parquet(out)
      println(s"flagged ${flagged.count()} rows against ${pats.length} " +
        s"patterns into $out")

    // reshard <parquet> <idCol> <n> <outDir>: rendezvous-hash shard
    // assignment (stable under fleet resizes: n -> n+1 moves ~1/(n+1)
    // of rows), partitioned write like `shard`.
    case "reshard" :: in :: idCol :: n :: out :: Nil =>
      import org.apache.spark.sql.functions._
      val sharded = spark.read.parquet(in).withColumn("shard",
        graft.operators.HashSplit.hrwShard(col(idCol), n.toInt))
      sharded.write.mode("overwrite").partitionBy("shard").parquet(out)
      println(s"wrote ${n.toInt} rendezvous shards under $out")

    // source-overlap <docsParquet> <groupCol> <textCol> <k>: pairwise
    // vocabulary-overlap estimates from per-group KMV sketches.
    case "source-overlap" :: in :: groupCol :: textCol :: k :: Nil =>
      graft.ext.Profile
        .kmvSourceOverlap(spark.read.parquet(in), groupCol, textCol, k.toInt)
        .collect()
        // r.get(…): the group column is any orderable type, not
        // necessarily string
        .foreach(r => println(s"${r.get(0)}\t${r.get(1)}\t" +
          s"jac=${r.getLong(4)} ppm (${r.getLong(3)}/${r.getLong(2)})"))

    // semdedup-kmeans <embParquet> <idCol> <vecCol> <cells> <iters>
    //   <tauBp> <outParquet>: cluster-scoped semantic dedup (k-means
    // cells, greedy keep-lowest-id above tauBp basis points).
    case "semdedup-kmeans" :: in :: idCol :: vecCol :: cells :: iters ::
        tauBp :: out :: Nil =>
      val e = spark.read.parquet(in)
      val centroids = graft.ext.VectorIndex
        .trainCentroids(e, vecCol, k = cells.toInt, iterations = iters.toInt,
          idCol = idCol)
      val flagged = graft.ext.VectorIndex
        .semanticDedupClustered(e, vecCol, idCol, centroids, tauBp.toInt)
      flagged.write.mode("overwrite").parquet(out)
      val dropped = flagged.filter(org.apache.spark.sql.functions
        .not(org.apache.spark.sql.functions.col("keep"))).count()
      println(s"semdedup-kmeans: $dropped dropped across ${cells.toInt} " +
        s"cells into $out")

    // eval-report <embParquet> <vecCol> <labelCol> <outDir>: classify
    // by per-label centroids, then write the full evaluation shelf —
    // confusion matrix, Cohen's + weighted kappa, MCC, per-class
    // P/R/F1, reliability bins + ECE — one parquet per metric.
    case "eval-report" :: in :: vecCol :: labelCol :: out :: Nil =>
      import org.apache.spark.sql.functions.col
      val e = spark.read.parquet(in)
      val scored = graft.ext.Eval
        .centroidScoredPredictions(e, vecCol, labelCol)
        .select(col(labelCol).as("label"), col("pred"), col("conf_micro"))
        .localCheckpoint() // every metric scans preds 2-4×; pin ONCE
      Seq(
        "confusion" -> graft.ext.Eval.confusion(scored, "label", "pred"),
        "kappa" -> graft.ext.Eval.cohenKappaPpm(scored, "label", "pred"),
        "weighted_kappa" ->
          graft.ext.Eval.weightedKappaPpm(scored, "label", "pred"),
        "mcc" -> graft.ext.Eval.mccPpm(scored, "label", "pred"),
        "prf1" -> graft.ext.Eval.perClassPrf1(scored, "label", "pred"),
        "calibration" -> graft.ext.Eval
          .calibrationBins(scored, "label", "pred", "conf_micro")
      ).foreach { case (name, df) =>
        df.write.mode("overwrite").parquet(s"$out/$name")
      }
      val k = spark.read.parquet(s"$out/kappa").head()
      println(s"eval-report: n=${k.getAs[Long]("n")} " +
        s"po_ppm=${k.getAs[Long]("po_ppm")} " +
        s"kappa_ppm=${k.getAs[Long]("kappa_ppm")} → $out/{confusion," +
        "kappa,weighted_kappa,mcc,prf1,calibration}")

    // drift-report <parquet> <groupCol> <valueCol> <idCol> <tiles> <out>:
    // per-group Jensen–Shannon divergence vs rest-of-corpus over global
    // value deciles (two-pass ntile — no single-task window).
    case "drift-report" :: in :: groupCol :: valueCol :: idCol ::
        tiles :: out :: Nil =>
      import org.apache.spark.sql.functions.col
      val binned = graft.operators.GlobalRank.withNtile(
        spark.read.parquet(in).select(col(idCol), col(groupCol),
          col(valueCol)),
        Seq(col(valueCol), col(idCol)), tiles = tiles.toInt,
        tileCol = "bin")
      val jsd = graft.ext.Drift.jsDivergenceBinned(binned, groupCol, "bin")
      jsd.write.mode("overwrite").parquet(out)
      graft.operators.GlobalRank.releaseCache()
      // summarize from the WRITTEN parquet — re-running the plan would
      // repeat the two-pass global sort with the rank cache released
      val back = spark.read.parquet(out)
      val worst = back.orderBy(col("jsd_nano").desc).head()
      println(s"drift-report: ${back.count()} groups, max drift " +
        s"${worst.get(0)}=${worst.getAs[Long]("jsd_nano")} nano → $out")

    // abtt <embParquet> <vecCol> <iters> <outParquet>: all-but-the-top
    // embedding correction — power-iterate PC1, print its variance
    // share, write vectors with the component removed.
    case "abtt" :: in :: vecCol :: iters :: out :: Nil =>
      val e = spark.read.parquet(in)
      val (mu, pc) = graft.ext.Spectral
        .topComponent(e, vecCol, iterations = iters.toInt)
      val share = graft.ext.Spectral.topShare(e, vecCol, mu, pc).head()
      graft.ext.Spectral.removeTop(e, vecCol, mu, pc, s"${vecCol}_abtt")
        .write.mode("overwrite").parquet(out)
      println(s"abtt: PC1 share ${share.getAs[Long]("share_ppm")} ppm over " +
        s"${share.getAs[Long]("n")} vectors; corrected column " +
        s"${vecCol}_abtt → $out")

    case other =>
      sys.error(s"unknown command: ${other.mkString(" ")} — see Scaladoc for usage")
  }

  /** Shared load pipeline for `load` and `load-checked` — ONE copy of
    * clean → (optional contract gate) → idempotent append, so the
    * checked path can never load different data than the unchecked
    * one. When gated, the expectations report
    * (ext/Expectations.rideContract) runs BEFORE the append touches
    * the store — a malformed export fails the job LOUDLY, listing
    * every violated check, instead of spending cluster-hours
    * materializing metrics over garbage; the cleaned batch is pinned
    * once so gate + append share one pass over the input. */
  private def loadRides(spark: SparkSession, csv: String,
      stationsCsv: String, store: String, gated: Boolean): Unit = {
    val base = RideTransform(
      RideCsv.read(spark, csv), StationCsv.read(spark, stationsCsv))
    val cleaned = if (gated) base.localCheckpoint() else base
    if (gated) {
      val gate = graft.ext.Expectations.rideContract(cleaned).collect()
      val failed = gate.filter(_.getAs[Long]("pass") == 0L)
      if (failed.nonEmpty)
        sys.error("data contract FAILED — nothing was written:\n" +
          failed.map(r => s"  ${r.getAs[String]("check")}: " +
            s"${r.getAs[Long]("n_violations")} violation(s) over " +
            s"${r.getAs[Long]("n_checked")} rows").mkString("\n"))
      val n = RidesTable.append(spark, cleaned, store)
      println(s"contract ok (${gate.length} checks); " +
        s"loaded $n new rides into $store")
    } else {
      val n = RidesTable.append(spark, cleaned, store)
      println(s"loaded $n new rides into $store")
    }
  }

  /** Shared body of both semantic-dedup arities. */
  private def semanticDedupCmd(spark: SparkSession, in: String,
      idCol: String, vecCol: String, tauBp: Int, bits: Int, bands: Int,
      out: String): Unit = {
    val res = graft.ext.VectorIndex.semanticDedup(
      spark.read.parquet(in), vecCol, idCol, tauBp, bits, bands = bands)
    res.write.mode("overwrite").parquet(out)
    val kept = res.filter(res("keep")).count()
    println(s"kept $kept of ${res.count()} (tau=${tauBp}bp, $bands band" +
      s"${if (bands == 1) "" else "s"}) to $out")
  }
}
