package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dense, gapless ID assignment in global sort order — the reference's
  * invariant B ("node IDs are line numbers starting with zero",
  * `HostToDomainGraph.java:42`, `CreatePreferenceVector.java:177-179`) —
  * WITHOUT the single-partition window that would be the scalability cliff at
  * 10^8-10^10 rows (SURVEY.md §4).
  *
  * Method: [[Ranks.rowNumber]] minus one. An input that fits the driver's
  * budget is sorted in the driver after one collect; a larger one is
  * range-partitioned by the sort key (equal keys co-located, partitions
  * ordered), sorted within partitions and counted per partition, and
  * `id = row_number within partition + offset` from the broadcast
  * cumulative offsets.
  */
object DenseIds {

  /** Assign `idCol` = 0..n-1 ascending in `sortCol` order.
    *
    * Requires `sortCol` values to be distinct (vertex names are). The result
    * is a pure function of the global sort order — independent of the plan
    * that assigns it.
    */
  def assign(df: DataFrame, sortCol: String, idCol: String = "id"): DataFrame =
    Ranks.rowNumber(df, Seq(col(sortCol)), idCol)
      .withColumn(idCol, col(idCol) - 1L)
}
