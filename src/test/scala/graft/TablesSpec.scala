package graft

import graft.queries.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MetadataBuilder, TimestampType}

/** Table opens: [[Tables.load]] reads its schema from a parquet footer on
  * the driver, so it starts no Spark job, and the schema is exactly the
  * one Spark's own inference gives. */
class TablesSpec extends SparkSpec {

  /** The repo's checked-in copy of the sf0.01 test tables (TESTDATA.md),
    * so the test runs from a checkout alone. */
  private val sf = new java.io.File("perfbench/data/sf0.01").getAbsolutePath

  private def jobsOf(f: => Unit): Int = jobStats(f)._1

  test("Tables.load starts no Spark job and its schema equals " +
    "spark.read.parquet's for every checked-in table") {
    val loaded = scala.collection.mutable.Map.empty[String, String]
    val jobs = jobsOf {
      Tables.All.foreach(n => loaded(n) = Tables.load(spark, sf, n).schema.json)
      Tables.registerAll(spark, sf)
    }
    assert(jobs === 0, s"opening the tables ran $jobs Spark jobs")
    Tables.All.foreach { n =>
      val inferred = spark.read.parquet(s"$sf/$n.parquet").schema
      assert(loaded(n) === inferred.json, s"$n: footer schema differs")
    }
  }

  test("a Spark-written multi-part directory table: the row-metadata " +
    "schema wins, and load == spark.read.parquet (schema and rows)") {
    import spark.implicits._
    val dir = tmpDir("tables_dir_")
    val tagged = new MetadataBuilder().putString("comment", "kept").build()
    (1L to 60L).map(i => (i, s"name_$i", i.toDouble / 7))
      .toDF("id", "name", "score")
      .withColumn("score", col("score").as("score", tagged))
      .repartition(3)
      .write.parquet(s"$dir/t.parquet")
    val parts = new java.io.File(s"$dir/t.parquet").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(parts.length === 3)
    // the key is there, and only it carries the field metadata: a
    // schema converted from the parquet types alone would lack it
    val conf = spark.sparkContext.hadoopConfiguration
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/t.parquet/${parts.min}"), conf))
    val kv = try footer.getFooter.getFileMetaData.getKeyValueMetaData
      finally footer.close()
    assert(kv.containsKey("org.apache.spark.sql.parquet.row.metadata"))

    var loaded: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { loaded = Tables.load(spark, dir, "t") } === 0)
    val inferred = spark.read.parquet(s"$dir/t.parquet")
    assert(loaded.schema === inferred.schema)
    assert(loaded.schema("score").metadata.getString("comment") === "kept")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().map(_.toSeq).toSeq
    assert(rows(loaded) === rows(inferred))
  }

  test("an INT64 TIMESTAMP(NANOS) ts column is rebuilt at micros " +
    "through the footer-schema path") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmpDir("tables_nanos_")
    val schema = MessageTypeParser.parseMessageType(
      "message ev { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val nanos = Seq(1700000000123456789L, 1700000001000000999L,
      1L, 1700000002999999000L)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/ev.parquet"))
      .withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    try {
      val groups = new SimpleGroupFactory(schema)
      nanos.zipWithIndex.foreach { case (ns, i) =>
        writer.write(groups.newGroup().append("event_id", i.toLong)
          .append("ts", ns))
      }
    } finally writer.close()

    var ev: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { ev = Tables.load(spark, dir, "ev") } === 0)
    assert(ev.schema("ts").dataType === TimestampType)
    val got = ev.orderBy("event_id")
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
    assert(got === nanos.map(_ / 1000))
  }
}
