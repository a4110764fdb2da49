package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow

/** The size decision shared by the in-driver paths ([[DriverGraph]],
  * [[Ranks]]): a byte budget of the driver, and one job that collects an
  * operator's inputs when their rows fit it. Whether an input fits is
  * decided from its size alone, as "To Partition, or Not to Partition"
  * (SIGMOD 2021) chooses a join strategy.
  */
private[graft] object DriverLoad {

  /** Loaded inputs may take 1/16 of the driver's max heap. */
  val HeapShare = 16L
  /** ... and 1/4 of `spark.driver.maxResultSize` (0 = unlimited). A load's
    * results can reach [[PartitionSkew]] budgets in the worst case, which
    * then still stays below the limit Spark aborts a job at.
    */
  val ResultShare = 4L
  /** One partition may return up to this many even shares of the budget,
    * so an uneven split does not decline an input that fits, while the
    * results of one load stay within this many budgets.
    */
  val PartitionSkew = 4L

  /** Bytes a load may take, from the driver's max heap and
    * `spark.driver.maxResultSize`.
    */
  def budget(spark: SparkSession): Long = {
    val heap = Runtime.getRuntime.maxMemory / HeapShare
    val results = spark.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (results > 0) math.min(heap, results / ResultShare) else heap
  }

  /** One job over `inputs`. Each partition of input i goes through
    * `pack(i)(rows, cap)`, which returns the packed rows with the driver
    * bytes they will take, or null when they cost more than `cap` (the
    * partition's [[PartitionSkew]] even shares of `budget`, at most all of
    * it) or cannot be loaded. Returns each input's packed partitions in
    * order; None when a partition returned null or all of them together
    * cost more than `budget`.
    */
  def collect[T: ClassTag](budget: Long, inputs: Seq[RDD[InternalRow]])(
      pack: Int => (Iterator[InternalRow], Long) => (T, Long)): Option[Seq[Array[T]]] = {
    val parts = inputs.map(_.getNumPartitions)
    val cap = math.min(budget, budget * PartitionSkew / math.max(1, parts.sum))
    val packed = inputs.zipWithIndex.map { case (rows, i) =>
      val f = pack(i)
      rows.mapPartitions(it => Iterator.single(f(it, cap)))
    }
    val got = inputs.head.sparkContext.union(packed).collect()
    if (got.contains(null) || got.map(_._2).sum > budget) return None
    var rest = got.map(_._1)
    Some(parts.map { p => val (a, b) = rest.splitAt(p); rest = b; a })
  }
}
