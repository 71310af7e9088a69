package graft.store

import org.apache.spark.sql.DataFrame

/** Idempotent append for key-deduplicated fact tables.
  *
  * The reference achieves idempotent daily loads with a staging table +
  * `INSERT OR IGNORE` against a UNIQUE(uid) index (reference:
  * src/data_load_sqlite.py:213, 218–235). Parquet has no unique
  * constraints, so the same semantic is an anti-join: keep only incoming
  * rows whose key is absent from the existing table, then append.
  *
  * Scale: the anti-join shuffles both sides on the key. For the 100 TB
  * store, partition the table by ingest date and restrict `existing` to
  * the partitions the batch can overlap (daily files only overlap a few
  * days) — then the probe side is a handful of partitions, not the full
  * table. Single-writer assumption, as in the reference.
  */
object IdempotentAppend {

  /** Incoming rows that are NOT already present, by key. Duplicates
    * *within* the batch are also collapsed (first wins via
    * dropDuplicates), matching INSERT OR IGNORE processing order. */
  def newRows(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming
      .dropDuplicates(keys)
      .join(existing.select(keys.map(existing.col): _*), keys, "left_anti")

  /** Full semantic: dedup + anti-join + append to `path` as parquet, in
    * one observed write ([[LogAppend]]). Returns rows written. */
  def appendTo(incoming: DataFrame, existing: DataFrame, keys: Seq[String], path: String): Long =
    LogAppend(newRows(incoming, existing, keys), path)
}
