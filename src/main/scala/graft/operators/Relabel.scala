package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The in-driver kernel of [[HostGraph.build]] and [[DomainGraph.fold]]:
  * dense ids for labels in their sort order, and arcs carried over to them.
  * The reference folds hosts into domains in one JVM the same way, mapping
  * arc endpoints through an in-memory array (`HostToDomainGraph.java:
  * 330-336,471-487`). Both operators return their rows through
  * [[DriverLoad.result]], names as the `UTF8String`s they were read as.
  */
private[graft] object Relabel {

  /** `labels` are the distinct labels in UTF-8 byte order, label i having
    * id i; `idOf(j)` is item j's label id, -1 for an item without a label;
    * `arcs(k)` is arc k as `from << 32 | to`, the arcs sorted by (from,
    * to), with no repeat and no self-loop.
    */
  final class Result(val labels: Array[UTF8String], val idOf: Array[Int], arcs: Array[Long]) {
    /** The arcs as (from_id, to_id) rows in [[EdgeSchema]], in order. */
    def edges(spark: SparkSession): DataFrame =
      DriverLoad.result(spark, EdgeSchema,
        arcs.iterator.map(a => InternalRow(a >>> 32, a & 0xffffffffL)))
  }

  /** Spark's string order: the UTF-8 bytes, unsigned ([[Ranks]]' sort
    * compares them so too); Java's `String` order differs on supplementary
    * characters.
    */
  private val utf8Order: Ordering[UTF8String] = (a, b) => a.binaryCompare(b)

  /** Gives the distinct labels of the items (`labels(j)` is item j's, null
    * for none) dense ids in UTF-8 byte order, then maps each arc of items
    * (`src(k)` → `dst(k)`, -1 for no item) to the arc of their labels'
    * ids. Arcs with an endpoint without a label, self-loops and repeats
    * are dropped.
    */
  def apply(labels: Array[UTF8String], src: Array[Int], dst: Array[Int]): Result = {
    val idOf = Array.fill(labels.length)(-1)
    val distinct = Array.newBuilder[UTF8String]
    var last: UTF8String = null
    var n = -1
    for (j <- labels.indices.filter(labels(_) != null).sortBy(labels(_))(utf8Order)) {
      if (last == null || labels(j).binaryCompare(last) != 0) {
        last = labels(j)
        distinct += last
        n += 1
      }
      idOf(j) = n
    }
    // ids are non-negative ints, so (from << 32 | to) sorts by (from, to)
    val arcs = new Array[Long](src.length)
    var m = 0
    var k = 0
    while (k < src.length) {
      val a = if (src(k) < 0) -1 else idOf(src(k))
      val b = if (dst(k) < 0) -1 else idOf(dst(k))
      if (a >= 0 && b >= 0 && a != b) { arcs(m) = a.toLong << 32 | b; m += 1 }
      k += 1
    }
    java.util.Arrays.sort(arcs, 0, m)
    var u = 0
    k = 0
    while (k < m) {
      if (k == 0 || arcs(k) != arcs(k - 1)) { arcs(u) = arcs(k); u += 1 }
      k += 1
    }
    new Result(distinct.result(), idOf, java.util.Arrays.copyOf(arcs, u))
  }

  /** The edges both Spark plans return: two non-null long ids. */
  val EdgeSchema: StructType = StructType(Seq(
    StructField("from_id", LongType, nullable = false),
    StructField("to_id", LongType, nullable = false)))
}
