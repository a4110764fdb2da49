package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.Platform

/** The one choice between an operator's in-driver path ([[DriverGraph]],
  * [[Ranks]]) and its Spark plan: a byte budget of the driver, and one job
  * that collects the operator's inputs when their rows fit it. Whether an
  * input fits is decided from its size alone, as "To Partition, or Not to
  * Partition" (SIGMOD 2021) chooses a join strategy. [[run]] is the entry;
  * the caller keeps only its kernel and its Spark plan.
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

  /** Runs `inDriver` over `inputs` loaded into driver memory, or `onSpark`
    * over `inputs` when they do not load.
    *
    * One job collects the inputs' rows in Spark's binary row format, each
    * after its length ([[rows]] reads them back); a packed row of `size`
    * bytes of input i costs `rowBytes(i)(size)` driver bytes. The load
    * declines when a partition costs more than its [[PartitionSkew]] even
    * shares of `budget` (at most all of it) or all of them together more
    * than `budget`; `inDriver` gets each input's packed partitions in
    * order and may decline too (None).
    *
    * When the optimized plans' size estimate is over `budget`, each input
    * not already cached is persisted first: without CBO a join is
    * estimated as the product of its sides, so rows that fit are often
    * estimated far over, and the persisted input serves the collect and,
    * if that declines, `onSpark` without running twice. What this call
    * persisted is released when it returns or throws; a cache the caller
    * made stays.
    */
  def run[T](inputs: Seq[DataFrame], rowBytes: Seq[Int => Long], budget: Long)(
      inDriver: Seq[Seq[Array[Byte]]] => Option[T])(onSpark: Seq[DataFrame] => T): T = {
    val over = inputs.map(_.queryExecution.optimizedPlan.stats.sizeInBytes).sum > budget
    val own = if (over) inputs.filter(_.storageLevel == StorageLevel.NONE) else Nil
    own.foreach(_.persist(StorageLevel.MEMORY_AND_DISK_SER))
    try collect(inputs, rowBytes, budget).flatMap(inDriver).getOrElse(onSpark(inputs))
    finally own.foreach(_.unpersist(blocking = false))
  }

  /** Whether `df`'s columns have exactly `types`: a kernel reads its
    * inputs' packed rows by position and type, so a caller runs its Spark
    * plan for other types.
    */
  def hasTypes(df: DataFrame, types: DataType*): Boolean =
    df.schema.fields.map(_.dataType).toSeq == types

  /** The load of [[run]]: one job over all inputs. */
  private def collect(inputs: Seq[DataFrame], rowBytes: Seq[Int => Long],
                      budget: Long): Option[Seq[Seq[Array[Byte]]]] = {
    // a new plan over a cached input reads its cache; the input's own plan
    // may predate it
    val rdds = inputs.map { df =>
      (if (df.storageLevel == StorageLevel.NONE) df else df.select("*")).queryExecution.toRdd
    }
    val parts = rdds.map(_.getNumPartitions)
    val cap = math.min(budget, budget * PartitionSkew / math.max(1, parts.sum))
    val packed = rdds.indices.map { i =>
      val (schema, cost) = (inputs(i).schema, rowBytes(i))
      rdds(i).mapPartitions(it => Iterator.single(pack(it, schema, cost, cap)))
    }
    val got = rdds.head.sparkContext.union(packed).collect()
    if (got.contains(null) || got.map(_._2).sum > budget) return None
    var rest = got.map(_._1).toSeq
    Some(parts.map { p => val (a, b) = rest.splitAt(p); rest = b; a })
  }

  /** Packs a partition's rows, each after its length, with the driver bytes
    * they cost; null when that is more than `cap`.
    */
  private def pack(it: Iterator[InternalRow], schema: StructType, rowBytes: Int => Long,
                   cap: Long): (Array[Byte], Long) = {
    lazy val toUnsafe = UnsafeProjection.create(schema)
    var buf = new Array[Byte](1 << 16)
    var at = 0
    var bytes = 0L
    while (bytes <= cap && it.hasNext) {
      val r = it.next() match {
        case u: UnsafeRow => u
        case other => toUnsafe(other)
      }
      val size = r.getSizeInBytes
      if (at + 4 + size > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(2 * buf.length, at + 4 + size))
      Platform.putInt(buf, Platform.BYTE_ARRAY_OFFSET + at, size)
      r.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + at + 4)
      at += 4 + size
      bytes += rowBytes(size)
    }
    if (bytes <= cap) (java.util.Arrays.copyOf(buf, at), bytes) else null
  }

  /** The rows of one input's packed partitions, in order. `row` is
    * evaluated once per row and pointed at its bytes: a new `UnsafeRow`
    * each time keeps the rows, one reused row reads them without
    * allocating.
    */
  def rows(parts: Seq[Array[Byte]], row: => UnsafeRow): Iterator[UnsafeRow] =
    parts.iterator.flatMap { buf =>
      new Iterator[UnsafeRow] {
        private var at = Platform.BYTE_ARRAY_OFFSET
        def hasNext: Boolean = at < Platform.BYTE_ARRAY_OFFSET + buf.length
        def next(): UnsafeRow = {
          val size = Platform.getInt(buf, at)
          val r = row
          r.pointTo(buf, at + 4, size)
          at += 4 + size
          r
        }
      }
    }
}
