package graft.queries

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StructType}
import scala.util.Try

/** Shared parquet table loader for the synthetic testdata tables.
  *
  * Opening a table starts no Spark job: the schema comes from one
  * parquet footer read on the driver (see `footerSchema`) and is handed
  * to `spark.read.schema(...)`, so Spark skips its schema-inference job.
  *
  * Timestamps. Every checked-in `events` file (the testdata SFs and
  * `perfbench/data`) stores `ts` as INT64 TIMESTAMP(MICROS,
  * isAdjustedToUTC=false), which Spark reads as TIMESTAMP_NTZ; those
  * files take the pass-through branch of [[load]]. A file that stores
  * INT64 TIMESTAMP(NANOS) — what a nanosecond-precision writer such as
  * pandas/pyarrow with `coerce_timestamps=None` emits — is rejected by
  * Spark's reader outright ([PARQUET_TYPE_ILLEGAL]); for those [[load]]
  * reads nanos as plain longs (`spark.sql.legacy.parquet.nanosAsLong`)
  * and rebuilds the timestamp at micros precision (`ts div 1000`,
  * dropping sub-microsecond digits).
  */
object Tables {

  val All: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every testdata table as a temp view so users can drive the
    * engine through plain `spark.sql(...)` (the reference's SQL surface). */
  def registerAll(s: SparkSession, dir: String): Unit =
    All.foreach(n => load(s, dir, n).createOrReplaceTempView(n))

  /** Cheap content fingerprint of one table directory: the sorted
    * (path, length, modificationTime) listing hashed. Driver-side memo
    * caches (e.g. [[Extended28]]'s subspace/day-frame memos) key on
    * `dir + "|" + fingerprint` so a rewrite under a reused path — an
    * append-style store, a long-lived session re-ingesting — invalidates
    * the memo instead of silently serving stale results. One FS listing
    * per call: driver metadata, no Spark job. */
  def fingerprint(s: SparkSession, dir: String, name: String): String = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Seq[String] = {
      val st = fs.getFileStatus(p)
      if (st.isDirectory)
        fs.listStatus(p).toSeq.sortBy(_.getPath.toString).flatMap(c =>
          if (c.isDirectory) walk(c.getPath)
          else Seq(s"${c.getPath}:${c.getLen}:${c.getModificationTime}"))
      else Seq(s"${st.getPath}:${st.getLen}:${st.getModificationTime}")
    }
    java.util.UUID.nameUUIDFromBytes(
      walk(path).mkString("\n").getBytes("UTF-8")).toString
  }

  def load(s: SparkSession, dir: String, name: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val df = s.read.schema(footerSchema(s, path)).parquet(path)
    df.schema.fields.find(f => f.name == "ts" && f.dataType == LongType) match {
      // integer `div`, NOT `/`: nanos-since-epoch (~1.7e18) overflows a
      // double's 53-bit mantissa, so float division is off by ±1 us.
      case Some(_) => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case None    => df
    }
  }

  /** The schema `spark.read.parquet(path)` would infer, read from one
    * parquet footer on the driver instead of by Spark's inference job.
    * Spark's own path (`ParquetFileFormat.readSchema`) is private to its
    * package, so this replays its non-merge rule: of the files a read
    * would list (hidden `_`/`.` names skipped except the two summary
    * files), touch `_common_metadata`, else `_metadata`, else the first
    * data file by path; prefer the Spark schema a Spark writer stored
    * under `org.apache.spark.sql.parquet.row.metadata`, else convert
    * the parquet schema with the session's converter settings (which
    * carry `nanosAsLong`). */
  private def footerSchema(s: SparkSession, path: String): StructType = {
    val conf = s.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filter { c =>
        val n = c.getPath.getName
        val hidden = (n.startsWith("_") && !n.contains("=")) ||
          n.startsWith(".") || n.endsWith("._COPYING_")
        !hidden || n.startsWith("_common_metadata") || n.startsWith("_metadata")
      }.flatMap(leaves)
    val files = leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString)
    val summaries = Seq("_common_metadata", "_metadata")
    val file = summaries.flatMap(n => files.find(_.getPath.getName == n))
      .headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no parquet file under $path"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    val meta = try reader.getFooter.getFileMetaData finally reader.close()
    Option(meta.getKeyValueMetaData.get(
        "org.apache.spark.sql.parquet.row.metadata"))
      .flatMap(json => Try(DataType.fromJson(json)).toOption)
      .collect { case st: StructType => st }
      .getOrElse(new ParquetToSparkSchemaConverter(Bridge.sqlConf(s))
        .convert(meta.getSchema))
  }
}
