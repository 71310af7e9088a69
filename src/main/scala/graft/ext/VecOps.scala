package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared vector plumbing for the eval / drift / spectral shelves —
  * ONE implementation of the fixture-facing contracts (dim inference
  * with loud empty/null errors, float-rounded component means, float
  * literals, sequential double dots) so a semantics fix lands once.
  */
private[ext] object VecOps {

  /** Vector dimensionality probed from the first row — with a CLEAR
    * error on an empty frame or a null first vector (a bare `head()`
    * throws NoSuchElementException / NPE deep inside the operator,
    * which reads as an engine bug rather than a caller contract
    * violation). One bounded 1-row job. */
  def vecDim(df: DataFrame, vecCol: String): Int =
    df.limit(1).select(size(col(vecCol)).cast("int")).collect()
      .headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Int]))
      .getOrElse(throw new IllegalArgumentException(
        s"cannot infer vector dim: input is empty or '$vecCol' is null " +
          "in the first row — dimension-dependent operators need at " +
          "least one non-null vector"))

  /** Float-rounded per-component mean aggregation expression (the
    * centroid discipline: rounding absorbs partial-agg ulp drift so a
    * discrete downstream argmax is engine-stable). */
  def meanArray(vecCol: String, dim: Int): Column =
    array((1 to dim).map(i =>
      (sum(element_at(col(vecCol), i)) / count(lit(1)))
        .cast("float")): _*)

  /** Per-group float-rounded mean centroids as bounded driver
    * metadata. NULL group keys are rejected LOUDLY: `getInt` on a
    * null key would silently unbox to 0 and fabricate a phantom
    * class-0 centroid. */
  def groupMeans(df: DataFrame, vecCol: String,
      groupCol: String): Array[(Int, Array[Float])] = {
    val dim = vecDim(df, vecCol)
    val cents = df.groupBy(col(groupCol).cast("int").as("__g"))
      .agg(meanArray(vecCol, dim).as("__c"))
      .collect()
      .map { r =>
        require(!r.isNullAt(0),
          s"NULL values in group column '$groupCol' — a null key would" +
            " silently coerce to class 0; filter or impute labels first")
        r.getInt(0) -> r.getSeq[Float](1).toArray
      }
    require(cents.nonEmpty, s"no groups in '$groupCol' to aggregate")
    cents
  }

  /** array<float> literal. */
  def litF(a: Array[Float]): Column =
    array(a.map(x => lit(x)): _*).cast("array<float>")

  /** Left-to-right double dot of two float vectors — the SQL list_sum
    * accumulation order, so driver scalars match oracle scalars. */
  def seqDot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
}
