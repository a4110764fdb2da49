package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DriverLoad, Ranks}

/** `Ranks.rowNumber`'s in-driver path against its range path
  * (`rowNumberSpark`) and a sequential oracle, and the size decision between
  * the two. Seeded random inputs from hand-rolled loops, as in
  * `Utf8OrderSpec`: scalacheck is not in the offline cache.
  */
class RanksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The in-driver path returns a local relation; the range path ranks
    * with a window.
    */
  private def inDriver(df: DataFrame): Boolean =
    df.queryExecution.analyzed.find(_.isInstanceOf[Window]).isEmpty

  private def ranks(df: DataFrame): Map[Long, Long] =
    df.select("id", "r").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Spark's order of one sort key, written out: nulls first ascending and
    * last descending, NaN above every other double, -0.0 equal to 0.0, and
    * strings in unsigned UTF-8 byte order (not Java's UTF-16 `compareTo`).
    */
  private def compareKey(a: Any, b: Any, desc: Boolean): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => if (desc) 1 else -1
    case (_, null) => if (desc) -1 else 1
    case _ =>
      val c = (a, b) match {
        case (x: Double, y: Double) =>
          if (x.isNaN || y.isNaN) java.lang.Boolean.compare(x.isNaN, y.isNaN)
          else if (x == y) 0 else if (x < y) -1 else 1
        case (x: String, y: String) => java.util.Arrays.compareUnsigned(x.getBytes(UTF_8), y.getBytes(UTF_8))
        case (x: Long, y: Long) => java.lang.Long.compare(x, y)
        case (x: Int, y: Int) => Integer.compare(x, y)
      }
      if (desc) -c else c
  }

  /** The sequential oracle: id → rank under `keys` (column, descending),
    * ties broken by the id ascending (column `id`, the first).
    */
  private def oracle(rows: Seq[Row], schema: StructType, keys: Seq[(String, Boolean)]): Map[Long, Long] = {
    val cols = keys.map { case (c, d) => (schema.fieldIndex(c), d) } :+ ((0, false))
    val ord: Ordering[Row] = (x, y) => cols.iterator
      .map { case (i, d) => compareKey(x.get(i), y.get(i), d) }.find(_ != 0).getOrElse(0)
    rows.sorted(ord).zipWithIndex.map { case (r, i) => r.getLong(0) -> (i + 1L) }.toMap
  }

  /** Both paths rank `rows` as the oracle does, with the same schema. */
  private def agree(rows: Seq[Row], schema: StructType, keys: Seq[(String, Boolean)]): Unit = {
    val df = spark.createDataFrame(rows.asJava, schema)
    val cols: Seq[Column] = keys.map { case (c, d) => if (d) col(c).desc else col(c).asc } :+ col("id").asc
    val local = Ranks.rowNumber(df, cols, "r")
    val ranged = Ranks.rowNumberSpark(df, cols, "r")
    assert(inDriver(local) && !inDriver(ranged))
    val expected = oracle(rows, schema, keys)
    assert(ranks(local) == expected, keys)
    assert(ranks(ranged) == expected, keys)
    assert(local.schema == ranged.schema)
  }

  // a pool that crosses the orders' divergences: ASCII, Latin-1, CJK, a
  // high-BMP code point, and supplementary characters (UTF-16 surrogates
  // compare low in Java's order, high in UTF-8 bytes)
  private val letters: IndexedSeq[String] = Seq("a", "b", "Z", "0", "~", "é", "中", "｡",
    new String(Character.toChars(0x10000)), new String(Character.toChars(0x1F600))).toIndexedSeq

  private def word(rnd: scala.util.Random): String =
    (0 until rnd.nextInt(4)).map(_ => letters(rnd.nextInt(letters.size))).mkString

  test("both paths agree with the oracle: multi-column keys with an id tie-break") {
    val schema = StructType(Seq(StructField("id", LongType, false),
      StructField("k1", IntegerType, false), StructField("k2", StringType, false)))
    for (seed <- 1L to 4L) {
      val rnd = new scala.util.Random(seed)
      val rows = (0L until 300L).map(i => Row(i, rnd.nextInt(5), word(rnd)))
      agree(rows, schema, Seq("k1" -> false, "k2" -> true))
      agree(rows, schema, Seq("k2" -> false, "k1" -> true))
    }
  }

  test("both paths agree with the oracle: descending doubles with NaN, -0.0 and 0.0") {
    val schema = StructType(Seq(StructField("id", LongType, false), StructField("v", DoubleType, false)))
    val specials = Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, -1.5, 1.5)
    for (seed <- 5L to 8L) {
      val rnd = new scala.util.Random(seed)
      val rows = (0L until 300L).map { i =>
        Row(i, if (rnd.nextBoolean()) specials(rnd.nextInt(specials.size)) else rnd.nextGaussian())
      }
      agree(rows, schema, Seq("v" -> true))
      agree(rows, schema, Seq("v" -> false))
    }
  }

  test("both paths agree with the oracle: null keys") {
    val schema = StructType(Seq(StructField("id", LongType, false),
      StructField("k", LongType, true), StructField("s", StringType, true),
      StructField("v", DoubleType, true)))
    for (seed <- 9L to 12L) {
      val rnd = new scala.util.Random(seed)
      def orNull[T](x: => T): Any = if (rnd.nextInt(4) == 0) null else x
      val rows = (0L until 300L).map(i =>
        Row(i, orNull(rnd.nextInt(10).toLong), orNull(word(rnd)), orNull(rnd.nextInt(3) - 1.0)))
      agree(rows, schema, Seq("k" -> false, "s" -> true))
      agree(rows, schema, Seq("k" -> true, "v" -> false))
      agree(rows, schema, Seq("v" -> true, "s" -> false))
    }
  }

  test("both paths agree with the oracle: strings in UTF-8 byte order, and an empty input") {
    val schema = StructType(Seq(StructField("id", LongType, false), StructField("s", StringType, false)))
    for (seed <- 13L to 16L) {
      val rnd = new scala.util.Random(seed)
      val rows = (0L until 400L).map(i => Row(i, word(rnd) + word(rnd)))
      // Java's order differs from the oracle's on these inputs
      assert(rows.map(_.getString(1)).sorted != rows.sortWith((x, y) =>
        compareKey(x.get(1), y.get(1), desc = false) < 0).map(_.getString(1)))
      agree(rows, schema, Seq("s" -> false))
      agree(rows, schema, Seq("s" -> true))
    }
    agree(Seq.empty, schema, Seq("s" -> false))
  }

  test("both paths return the same schema, nullability included") {
    val base = spark.range(20).select(col("id"), (col("id") % 3).as("k"),
      when(col("id") % 5 =!= 0, col("id").cast("string")).as("s"))
    for (df <- Seq(base, base.select(col("id"), col("k"))); rank <- Seq("r", "k")) {
      val cols = Seq(col("k").desc, col("id").asc)
      val (local, ranged) = (Ranks.rowNumber(df, cols, rank), Ranks.rowNumberSpark(df, cols, rank))
      assert(inDriver(local))
      assert(local.schema == ranged.schema)
      assert(!local.schema(rank).nullable && local.schema(rank).dataType == LongType)
    }
  }

  test("decision: a budget of exactly the input's rows loads it, one row less declines") {
    // one partition, so its share of the budget is the whole budget
    val df = spark.range(0, 100, 1, 1).select(col("id"), (col("id") * 37 % 100).as("k"))
    val cols = Seq(col("k").asc, col("id").asc)
    // two non-null longs: an 8-byte null bitmap and two 8-byte words
    val fits = 100 * Ranks.rowBytes(24)
    val loaded = Ranks.rowNumber(df, cols, "r", fits)
    val declined = Ranks.rowNumber(df, cols, "r", fits - Ranks.rowBytes(24))
    assert(inDriver(loaded) && !inDriver(declined))
    assert(ranks(loaded) == ranks(declined))
    assert(ranks(loaded) == (0L until 100L).map(i => i -> (i * 37 % 100 + 1)).toMap)
  }

  test("decision: an input estimated over the budget whose rows fit takes the in-driver path") {
    // without CBO a join is estimated as the product of its sides: 480 B × 480 B
    val df = spark.range(0, 60, 1, 2).join(spark.range(0, 60, 1, 2), "id")
    val budget = 20000L
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes > budget)
    assert(60 * Ranks.rowBytes(16) <= budget)
    val out = Ranks.rowNumber(df, Seq(col("id").desc), "r", budget)
    assert(inDriver(out))
    assert(ranks(out) == (0L until 60L).map(i => i -> (60 - i)).toMap)
    // its sources (two 480 B ranges) fit, so it was not persisted
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("decision: an input is persisted for its load only when the sources it reads are over the budget") {
    def persistedDuringLoad(df: DataFrame, budget: Long): StorageLevel =
      DriverLoad.run(Seq(df), Seq(Ranks.rowBytes(_)), budget)(_ => Some(df.storageLevel))(_ => null)
    // a join estimated at 480 B × 480 B over two ranges of 480 B
    val join = spark.range(0, 60, 1, 2).join(spark.range(0, 60, 1, 2), "id")
    // 60 rows out of a range of 24,000 B
    val filtered = spark.range(0, 3000, 1, 2).filter(col("id") < 60).toDF()
    val budget = 20000L
    assert(Seq(join, filtered).forall(_.queryExecution.optimizedPlan.stats.sizeInBytes > budget))
    assert(persistedDuringLoad(join, budget) == StorageLevel.NONE)
    assert(persistedDuringLoad(filtered, budget) == StorageLevel.MEMORY_AND_DISK_SER)
    assert(filtered.storageLevel == StorageLevel.NONE)
  }

  test("a rank over a cached input keeps the caller's cache, on both paths") {
    val df = spark.range(1000).select(col("id"), (col("id") % 7).as("k"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      df.count()
      val cols = Seq(col("k").asc, col("id").asc)
      val expected = (0L until 1000L).sortBy(i => (i % 7, i)).zipWithIndex
        .map { case (i, r) => i -> (r + 1L) }.toMap
      val outs = Seq(Ranks.rowNumber(df, cols, "r"), Ranks.rowNumber(df, cols, "r", 0L),
        Ranks.rowNumberSpark(df, cols, "r"))
      assert(outs.map(inDriver) == Seq(true, false, false))
      for (out <- outs) {
        assert(ranks(out) == expected)
        assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
      }
    } finally df.unpersist(blocking = true)
  }

  test("the range path leaves nothing in the cache manager") {
    // start from an empty cache manager: the assertion is about this call
    spark.catalog.clearCache()
    val df = spark.range(1000).select(col("id"), (col("id") % 7).as("k"))
    val out = Ranks.rowNumberSpark(df, Seq(col("k").asc, col("id").asc), "r")
    assert(ranks(out).size == 1000)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
