package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, InterpretedOrdering, JoinedRow, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Global ranking: `row_number()` in a total order, with two plans chosen
  * from the input's size. An input that fits the driver's budget
  * ([[DriverLoad]]) is collected by one job and sorted in the driver, as the
  * reference sorts in one JVM (`JoinSortRanks.java:57-161`); the result
  * ([[DriverLoad.result]]) is sized at its packed bytes, so its consumers
  * can broadcast it. A larger input runs [[rowNumberSpark]], which avoids
  * the single-partition window that is the scalability cliff at scale
  * (SURVEY.md §4): range-partition on the sort key, rank within partitions,
  * add broadcast per-partition offsets. [[Ranking.joinRanks]] sorts its
  * rows in the driver with the same [[ordering]].
  */
object Ranks {

  /** Driver bytes per collected row of `size` bytes in Spark's binary row
    * format: its packed copy and the `UnsafeRow` that points at it, and the
    * result row it becomes (the row and a rank, or in [[Ranking]] a share
    * of a joined row), packed and again in the result's broadcast.
    */
  private[graft] def rowBytes(size: Int): Long = 3L * size + 128

  /** Add `rankCol` = 1..n following the total order given by `sortCols`
    * (which must be a total order — include a unique tie-break column, as the
    * reference does with (score desc, id asc), `JoinSortRanks.java:57-71`).
    * `rankCol` is a non-null long; the input's columns keep their types and
    * nullability. A `df` the caller cached stays cached.
    */
  def rowNumber(df: DataFrame, sortCols: Seq[Column], rankCol: String): DataFrame =
    rowNumber(df, sortCols, rankCol, DriverLoad.budget(df.sparkSession))

  /** [[rowNumber]] with the driver's byte budget given: [[DriverLoad.run]]
    * chooses between [[inDriver]] and [[rowNumberSpark]], and persists an
    * input whose sources are estimated over the budget for both.
    */
  private[graft] def rowNumber(df: DataFrame, sortCols: Seq[Column], rankCol: String,
                               budget: Long): DataFrame =
    DriverLoad.run(Seq(df), Seq(rowBytes(_)), budget)(
        packed => inDriver(df, sortCols, rankCol, packed.head))(
        loaded => rowNumberSpark(loaded.head, sortCols, rankCol))

  /** The in-driver path over `df`'s packed rows: the driver sorts them with
    * Spark's own [[ordering]] of `sortCols`. None when a sort column is not
    * a column of `df`.
    */
  private def inDriver(df: DataFrame, sortCols: Seq[Column], rankCol: String,
                       packed: Seq[Array[Byte]]): Option[DataFrame] = {
    val ordering = this.ordering(df, sortCols).getOrElse(return None)
    val schema = df.schema
    val rows = DriverLoad.rows(packed, new UnsafeRow(schema.length)).toArray[InternalRow]
    java.util.Arrays.sort(rows, ordering)

    val out = df.withColumn(rankCol, lit(0L)).schema
    val k = out.fieldIndex(rankCol)
    // the rank follows the row, or replaces its column of that name
    val (rank, joined) = (new GenericInternalRow(1), new JoinedRow)
    val ranked = rows.indices.iterator.map { i =>
      if (k == schema.length) { rank.setLong(0, i + 1L); joined(rows(i), rank) }
      else new GenericInternalRow(rows(i).toSeq(schema).toArray.updated(k, i + 1L))
    }
    Some(DriverLoad.result(df.sparkSession, out, ranked))
  }

  /** Spark's own ordering of `sortCols` over rows of `df`, as its sort
    * binds it: NaN, -0.0, nulls and the UTF-8 byte order of strings compare
    * as in a Spark sort. None when a sort column is not a column of `df`.
    */
  private[graft] def ordering(df: DataFrame, sortCols: Seq[Column]): Option[InterpretedOrdering] =
    df.sort(sortCols: _*).queryExecution.analyzed match {
      case Sort(order, true, child, _) if child.output == df.queryExecution.analyzed.output =>
        Some(new InterpretedOrdering(order, child.output))
      case _ => None
    }

  /** The range path: range-partition the input on `sortCols`, sort within
    * partitions, count the rows of each partition, and add the broadcast
    * offsets to a per-partition `row_number`. Two jobs over a checkpointed
    * stage, every step parallel.
    */
  private[graft] def rowNumberSpark(df: DataFrame, sortCols: Seq[Column],
                                    rankCol: String): DataFrame = {
    // the range exchange EXECUTES its input twice (once for the range
    // sampling pass, once for the shuffle itself) — cache the input so the
    // upstream chain (often a distinct over the corpus) runs once; released
    // as soon as `staged` is materialized by the counts job below. A cache
    // the caller made is left alone. `staged` itself is a lazy local
    // checkpoint, not a cache: a lineage-free leaf the counts job
    // materializes, whose blocks the ContextCleaner frees once the result
    // is dropped (a persist would stay in the cache manager for good).
    val own = df.storageLevel == StorageLevel.NONE
    val input = if (own) df.persist(StorageLevel.MEMORY_AND_DISK_SER) else df
    // no explicit partition count: leaving it to the planner keeps the
    // exchange AQE-coalescible, so a small input lands in ONE ordered
    // partition instead of `spark.sql.shuffle.partitions` near-empty ones
    // (ranks depend only on the global sort order, never on the partition
    // boundaries)
    val staged = input.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(eager = false)
    val counts = staged.groupBy("__pid").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    if (own) input.unpersist(blocking = false) // staged now holds the materialized rows
    val offsets: Map[Int, Long] = {
      var acc = 0L
      counts.map { case (pid, n) => val o = (pid, acc); acc += n; o }.toMap
    }
    val offsetCol: Column =
      coalesce(element_at(typedLit(offsets), col("__pid")), lit(0L))
    val w = Window.partitionBy("__pid").orderBy(sortCols: _*)
    staged
      .withColumn(rankCol, row_number().over(w).cast("long") + offsetCol)
      .drop("__pid")
  }
}
