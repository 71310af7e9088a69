package graft.ext

import org.apache.spark.sql.{DataFrame, Row}

/** The one driver-loop rule: ship a frame to the driver only when it
  * provably fits under a row bound, and learn that from the ship itself.
  *
  * `collectUnder(df, bound)` collects `df.limit(bound + 1)`. At most
  * `bound` rows back means the whole frame came back, so the caller
  * runs its driver loop on them with no count job first. More than
  * `bound` rows means the frame is over the bound; the caller goes
  * distributed, having paid at most `bound + 1` rows shipped once
  * before a many-job distributed loop. Callers pass a column-pruned
  * frame so the ship carries only what the driver loop reads.
  *
  * Users: [[VectorIndex]] (Lloyd training rows), [[Spectral]] (power
  * iteration vectors), [[Retrieval.mmrSelect]] (candidates and
  * symmetrized sims), and every graph driver loop on node-sized
  * frames: [[Graph]]'s kCore, coreness, labelPropagation and
  * convergent pageRank / personalizedPageRank, and
  * [[TextDedup.connectedComponents]]. It is the only driver-loop gate
  * in those operators: none runs a `count()` before deciding. */
object ScaleGate {

  /** The rows of `df` when there are at most `bound` of them, else
    * None; a bound ≤ 0 disables the driver path. `bound + 1` is
    * clamped to `Int.MaxValue`, the largest limit Spark takes (and the
    * largest array the driver can hold). */
  def collectUnder(df: DataFrame, bound: Long): Option[Array[Row]] =
    if (bound <= 0) None
    else {
      val got = df.limit(math.min(bound, Int.MaxValue - 1L).toInt + 1)
        .collect()
      if (got.length > bound) None else Some(got)
    }
}
