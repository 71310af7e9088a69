package graft

import org.apache.spark.sql.functions._

import graft.operators.ZOrder
import graft.store.Formats

/** Round-trips for the non-parquet formats and the z-order clustering
  * writer (value-level locality property + lossless IO). */
class FormatsSpec extends SparkSpec {
  import spark.implicits._

  test("ORC round-trip is lossless including nulls and timestamps") {
    val df = Seq(
      (1L, Some("a"), Some(java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))),
      (2L, None, None)
    ).toDF("id", "s", "ts")
    val path = tmpDir("orc") + "/t"
    Formats.writeOrc(df, path)
    val back = Formats.readOrc(spark, path)
    // nullability widens through any file format; names+types must hold
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy($"id").collect().toSeq ===
      df.orderBy($"id").collect().toSeq)
  }

  test("JSONL round-trip with explicit schema is lossless") {
    val df = Seq((1L, "x", 1.5), (2L, "y", -0.25)).toDF("id", "s", "v")
    val path = tmpDir("jsonl") + "/t"
    Formats.writeJsonl(df, path)
    val back = Formats.readJsonl(spark, path, df.schema)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy($"id").collect().toSeq ===
      df.orderBy($"id").collect().toSeq)
  }

  test("zvalue over (x, y) interleaves bits exactly") {
    // x=0b101=5, y=0b011=3 → z = x bits at even, y at odd positions:
    // pos0=1(x0) pos1=1(y0) pos2=0(x1) pos3=1(y1) pos4=1(x2) pos5=0(y2)
    // = 0b011011 = 27
    val got = Seq((5, 3)).toDF("x", "y")
      .select(ZOrder.zvalue(Seq($"x", $"y"), 3).as("z"))
      .collect().head.getLong(0)
    assert(got === 27L)
    // masking: values wider than `bits` truncate
    val masked = Seq((256 + 5, 3)).toDF("x", "y")
      .select(ZOrder.zvalue(Seq($"x", $"y"), 8).as("z")).collect().head.getLong(0)
    val plain = Seq((5, 3)).toDF("x", "y")
      .select(ZOrder.zvalue(Seq($"x", $"y"), 8).as("z")).collect().head.getLong(0)
    assert(masked === plain)
  }

  test("z-order clustering bounds BOTH dimensions' spans; xy sort leaves y full-width") {
    // uniform 64x64 grid into 16 partitions. A y-range predicate prunes
    // a partition iff the partition's y-span is narrow: z-order keeps
    // every partition inside a ~16-wide y band, while the (x, y)
    // lexicographic layout gives every partition the FULL y extent —
    // min-max stats on y prune nothing there.
    val grid = spark.range(0, 64L * 64)
      .select(($"id" % 64).cast("int").as("x"), ($"id" / 64).cast("int").as("y"))
    def ySpans(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.withColumn("p", spark_partition_id())
        .groupBy($"p")
        .agg((max($"y") - min($"y") + 1).cast("long").as("yspan"))
        .collect().map(_.getLong(1)).toSeq
    val zSpans = ySpans(ZOrder.cluster(grid, Seq("x", "y"), 6, 16))
    val xySpans = ySpans(
      grid.repartitionByRange(16, $"x", $"y").sortWithinPartitions($"x", $"y"))
    assert(zSpans.max <= 32, s"z y-spans: $zSpans")   // ~16 + range-boundary slack
    assert(xySpans.max === 64L, s"xy y-spans: $xySpans") // full height ⇒ no pruning
  }
}
