package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) interleaving — the multi-dimensional CLUSTERING key
  * behind file-skipping at scale (the layout primitive public lakehouse
  * engines expose as OPTIMIZE ZORDER BY): sorting by an interleaved key
  * gives every dimension locality ~2^(bits/n) instead of giving the
  * first sort column everything and later columns nothing, so min/max
  * file statistics prune scans for predicates on ANY of the z-columns.
  *
  * The key is a pure-integer expression (shift/and/or of the
  * pre-quantized inputs), literal-unrolled over bit positions: the term
  * count is bits·n ≤ 63 — static, small, whole-stage-codegen'd, no
  * per-row allocation (the ArgminL2 lesson does not bind at ≤ 63
  * terms). Pure integer arithmetic also means the whole layout
  * comparison unrolls into a SQL oracle bit-for-bit.
  */
object ZOrder {

  /** The Morton key: bit i of column j lands at position i·n + j, so
    * dimensions alternate from the LOW bit upward and no dimension
    * dominates the ordering.
    *
    * @param cols pre-quantized non-negative integral columns, each in
    *             [0, 2^bits) — quantization (e.g. value·2^bits div
    *             (max+1)) is the caller's, because only the caller
    *             knows the domain
    * @param bits bits kept per column; bits·n ≤ 63 keeps the key in a
    *             non-negative long
    */
  def zvalue(cols: Seq[Column], bits: Int): Column = {
    val n = cols.length
    require(n >= 1, "zvalue needs at least one column")
    require(bits >= 1 && bits * n <= 63,
      s"bits*cols = ${bits * n} must fit a non-negative long (<= 63)")
    val terms = for {
      i <- 0 until bits
      (c, j) <- cols.zipWithIndex
    } yield shiftleft(
      shiftright(c.cast("long"), i).bitwiseAND(lit(1L)), i * n + j)
    terms.reduce(_.bitwiseOR(_))
  }

  /** The same expression as ANSI SQL text (for oracles/docs), over
    * column names instead of Columns — kept next to [[zvalue]] so the
    * two encodings cannot drift apart silently. */
  def zvalueSql(cols: Seq[String], bits: Int): String = {
    val n = cols.length
    require(n >= 1 && bits >= 1 && bits * n <= 63)
    (for {
      i <- 0 until bits
      (c, j) <- cols.zipWithIndex
    } yield s"((($c >> $i) & 1) << ${i * n + j})").mkString(" | ")
  }

  /** Z-cluster a frame for writing: range-partition and sort by the
    * [[zvalue]] of `cols`, so each written file covers a small box of
    * the z-columns and min/max stats prune predicates on any of them
    * (a lexicographic sort leaves later columns full-width per file). */
  def cluster(df: DataFrame, cols: Seq[String], bits: Int,
      numPartitions: Int): DataFrame =
    df.withColumn("__z", zvalue(cols.map(col), bits))
      .repartitionByRange(numPartitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
}
