package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig, ValueState}

/** Streaming novelty filter with BLOOM state — the approximate sibling
  * of [[StreamDedup]] for streams whose key universe is too large even
  * for a watermarked exact-key store: per-bucket state is a FIXED
  * `numBits`-bit Bloom filter (a few KB), so total state is
  * O(buckets · numBits) regardless of how many distinct keys flow
  * through — the only bounded-memory layout for "have we ever seen
  * this URL/document hash" at 100 TB/day.
  *
  * Trade (documented, inherent): a Bloom false positive DROPS a novel
  * row (rate ≈ (1 − e^(−k·n/m))^k — size `capacity` so n stays in the
  * design range); there are NO false negatives (a key admitted once is
  * never admitted again within an epoch). When a bucket's filter
  * exceeds `capacity` insertions it ROTATES (clears) — the standard
  * rotating-bloom pattern: old keys may re-admit after a rotation,
  * novel keys are never starved, and the FP rate stays bounded
  * forever. Exact-horizon semantics need [[StreamDedup]] instead.
  *
  * Keys hash with scala.util.hashing.MurmurHash3 (stable across JVM
  * runs and machines), double-hashing h1 + i·h2 for the k probe
  * positions (Kirsch–Mitzenmacher). Works identically in batch mode
  * (the transformWithState contract): one pass per bucket group.
  */
object StreamNovelty {

  case class KeyedRow(key: String, id: Long)
  case class BloomState(words: Array[Long], nAdded: Long)
  case class Novel(key: String, id: Long)

  private def hashes(key: String, numHashes: Int, numBits: Int): Array[Int] = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(key, 0x9747b28c)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(key, 0x85ebca6b) | 1
    Array.tabulate(numHashes) { i =>
      math.floorMod(h1.toLong + i.toLong * h2.toLong, numBits.toLong).toInt
    }
  }

  /** Bucket a key for state parallelism (stable across runs). */
  def bucketOf(key: String, buckets: Int): Int =
    math.floorMod(scala.util.hashing.MurmurHash3.stringHash(key, 0x2545f491),
      buckets)

  class NoveltyFilter(numBits: Int, numHashes: Int, capacity: Long,
      ttl: TTLConfig) extends StatefulProcessor[Int, KeyedRow, Novel] {

    @transient private var state: ValueState[BloomState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[BloomState](
        "bloom", Encoders.product[BloomState], ttl)

    override def handleInputRows(bucket: Int, rows: Iterator[KeyedRow],
        timerValues: TimerValues): Iterator[Novel] = {
      val nWords = (numBits + 63) / 64
      var st =
        if (state.exists()) state.get()
        else BloomState(new Array[Long](nWords), 0L)
      var words = st.words.clone()
      var n = st.nAdded
      val out = Vector.newBuilder[Novel]
      rows.foreach { r =>
        val pos = hashes(r.key, numHashes, numBits)
        var seen = true
        var i = 0
        while (i < pos.length) {
          if ((words(pos(i) / 64) >>> (pos(i) % 64) & 1L) == 0L) seen = false
          i += 1
        }
        if (!seen) {
          if (n >= capacity) { // rotate: bounded FP rate forever
            words = new Array[Long](nWords)
            n = 0L
          }
          i = 0
          while (i < pos.length) {
            words(pos(i) / 64) |= 1L << (pos(i) % 64)
            i += 1
          }
          n += 1
          out += Novel(r.key, r.id)
        }
      }
      state.update(BloomState(words, n))
      out.result().iterator
    }
  }

  /** Emit only never-before-seen keys (modulo the documented FP/rotate
    * trade). `buckets` spreads state across executors; `capacity` is
    * the per-bucket insertion budget before rotation — size
    * `numBits ≈ 10–15 · capacity` for ~1% FP. */
  def novel(rows: Dataset[KeyedRow], numBits: Int = 1 << 16,
      numHashes: Int = 5, buckets: Int = 64, capacity: Long = 4096L,
      ttl: TTLConfig = TTLConfig.NONE): Dataset[Novel] = {
    require(numBits >= 64 && numHashes >= 1 && buckets >= 1 && capacity >= 1,
      s"bad params bits=$numBits k=$numHashes buckets=$buckets cap=$capacity")
    import rows.sparkSession.implicits._
    val timeMode =
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    rows
      .groupByKey(r => bucketOf(r.key, buckets))
      .transformWithState(
        new NoveltyFilter(numBits, numHashes, capacity, ttl),
        timeMode, OutputMode.Update())
  }

  // ------------------------------------------------------------------
  // Batch bridge: a streaming epoch's Bloom state and BloomSketch's
  // word frames are the same state family (bit-OR-mergeable words).
  // exportState reads a checkpointed novelty query's per-bucket
  // filters back as a (bucket, word_idx, word) frame; batchWords
  // builds the SAME frame from raw keys in batch (bit-OR is
  // commutative/idempotent, so absent rotation the insertion order the
  // stream saw is irrelevant — stream-built ≡ batch-built, spec-
  // pinned); mergeWords folds epoch frames into the corpus sketch;
  // packedGlobal + keyPositions/mightContainPositions turn the merged
  // state into a broadcastable batch probe, exactly the
  // BloomSketch.packed/mightContain economics.
  //
  // Rotation caveat (documented, inherent): a bucket that rotated
  // holds only its post-rotation keys — exportState is then a SUBSET
  // of batchWords over the full key history. Size capacity for the
  // epoch when the bridge matters.

  /** Read the novelty query's Bloom state from its checkpoint as a
    * mergeable word frame — Spark's statestore data source, so the
    * export is an offline read of the committed state, not a query-
    * lifecycle hook. Zero words are dropped (sparse frame). */
  def exportState(spark: org.apache.spark.sql.SparkSession,
      checkpointDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.format("statestore")
      .option("path", checkpointDir)
      .option("stateVarName", "bloom")
      .load()
      .select(col("key.value").as("bucket"),
        posexplode(col("value.words")).as(Seq("idx0", "word")))
      .select(col("bucket"), col("idx0").cast("int").as("word_idx"),
        col("word"))
      .filter(col("word") =!= 0L)
  }

  /** The word frame a rotation-free epoch over `keys` holds, built in
    * batch: same murmur double-hash positions, same bucketing, one
    * explode + keyed bit_or (output ≤ buckets·numBits/64 rows). The
    * position function is the JVM hash family shared with the
    * streaming processor, so this is a UDF by necessity — it runs once
    * per sketch BUILD (bounded output), never on a probe scan, which
    * uses [[mightContainPositions]]'s expression arithmetic. */
  def batchWords(keys: org.apache.spark.sql.DataFrame, keyCol: String,
      numBits: Int = 1 << 16, numHashes: Int = 5,
      buckets: Int = 64): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val posUdf = udf { key: String =>
      val b = bucketOf(key, buckets)
      hashes(key, numHashes, numBits).map(p => (b, p / 64, 1L << (p % 64)))
    }
    keys.filter(col(keyCol).isNotNull)
      .select(explode(posUdf(col(keyCol))).as("e"))
      .select(col("e._1").as("bucket"), col("e._2").as("word_idx"),
        col("e._3").as("bit"))
      .groupBy(col("bucket"), col("word_idx"))
      .agg(expr("bit_or(bit)").as("word"))
  }

  /** OR-merge epoch/corpus word frames (idempotent, order-free). */
  def mergeWords(frames: Seq[org.apache.spark.sql.DataFrame])
      : org.apache.spark.sql.DataFrame = {
    require(frames.nonEmpty, "mergeWords needs at least one frame")
    import org.apache.spark.sql.functions._
    frames.reduce(_ unionByName _)
      .groupBy(col("bucket"), col("word_idx"))
      .agg(expr("bit_or(word)").as("word"))
  }

  /** Collapse a (bucket, word_idx, word) frame into ONE dense global
    * array<long> row — bucket b's words at offset b·numBits/64, the
    * concatenated-bit-space layout — via [[graft.ext.BloomSketch
    * .packed]]. Broadcast the single row onto probe frames. */
  def packedGlobal(words: org.apache.spark.sql.DataFrame, numBits: Int,
      buckets: Int): org.apache.spark.sql.DataFrame = {
    require(numBits % 64 == 0, s"numBits must be a multiple of 64, got $numBits")
    // the concatenated bit space must fit packed's Int domain — fail
    // fast instead of letting numBits·buckets wrap to a zero-length
    // (or garbage) bloom array
    require(numBits.toLong * buckets <= Int.MaxValue,
      s"numBits*buckets = ${numBits.toLong * buckets} exceeds Int range — " +
        "shrink the per-bucket filter or pack buckets separately")
    import org.apache.spark.sql.functions._
    val wordsPerBucket = numBits / 64
    graft.ext.BloomSketch.packed(
      words.select(
        (col("bucket").cast("long") * wordsPerBucket + col("word_idx"))
          .as("word_idx"),
        col("word")),
      numBits * buckets)
  }

  /** A key's global bit positions (bucket offset + murmur probes) — the
    * once-per-row UDF half of the probe; pair with
    * [[mightContainPositions]] so the bit arithmetic stays expression
    * code. */
  def keyPositions(keyCol: org.apache.spark.sql.Column, numBits: Int,
      numHashes: Int, buckets: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    // null-safe like batchWords' isNotNull filter: a null key has no
    // positions (probe reads null, never true — no membership claim)
    val posUdf = udf { key: String =>
      Option(key).map { k =>
        val b = bucketOf(k, buckets)
        hashes(k, numHashes, numBits).map(p => b.toLong * numBits + p)
      }
    }
    posUdf(keyCol)
  }

  /** Membership test of [[keyPositions]] output against a
    * [[packedGlobal]] bloom array: true iff ALL bits are set. False ⇒
    * definitely never admitted; true ⇒ maybe (standard Bloom read).
    *
    * SIZE CAVEAT: `bloomArr` rides as a COLUMN, so every operator
    * boundary that materializes the row (an UnsafeProjection after a
    * join, an exchange) COPIES the whole array per row — fine for the
    * few-KB filters this expression path was built for, quadratic
    * disaster for corpus-scale ones (a 2²⁸-bit filter is 32 MB; carried
    * through a 4M-row batch that is ~125 TB of memcpy, measured as a
    * multi-minute stall). */
  def mightContainPositions(posArr: org.apache.spark.sql.Column,
      bloomArr: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    forall(posArr, p =>
      call_function("bit_get",
        element_at(bloomArr, floor(p / lit(64L)).cast("int") + 1),
        (p % 64).cast("int")) === 1)
  }
}
