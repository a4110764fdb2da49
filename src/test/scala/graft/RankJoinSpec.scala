package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DriverLoad, HarmonicCentrality, HostGraph, PageRank, Ranking}
import graft.sources.SynthDocs

/** `Ranking.joinRanks`' in-driver path against its Spark plan
  * (`joinRanksSpark`) and a sequential oracle: rows, row order and schema,
  * nullability included, on seeded random inputs (hand-rolled loops, as in
  * `RanksSpec`: scalacheck is not in the offline cache).
  */
class RankJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The in-driver path returns a local relation; the Spark plan ranks with
    * a window.
    */
  private def inDriver(df: DataFrame): Boolean =
    df.queryExecution.analyzed.find(_.isInstanceOf[Window]).isEmpty

  /** A row's values, floats and doubles as their raw bits, so -0.0, 0.0
    * and NaN are told apart.
    */
  private def values(r: Row): Seq[Any] = r.toSeq.map {
    case f: Float => java.lang.Float.floatToRawIntBits(f)
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case x => x
  }

  /** Spark's order of one sort key: nulls first ascending and last
    * descending, NaN above every other number, -0.0 equal to 0.0.
    */
  private def compareKey(a: Any, b: Any, desc: Boolean): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => if (desc) 1 else -1
    case (_, null) => if (desc) -1 else 1
    case _ =>
      val c = (a, b) match {
        case (x: Float, y: Float) => compareDouble(x, y)
        case (x: Double, y: Double) => compareDouble(x, y)
        case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
        case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      }
      if (desc) -c else c
  }

  private def compareDouble(x: Double, y: Double): Int =
    if (x.isNaN || y.isNaN) java.lang.Boolean.compare(x.isNaN, y.isNaN)
    else if (x == y) 0 else if (x < y) -1 else 1

  /** The sequential oracle: number the score rows (id, hc_val, pr_val) by
    * (hc_val desc, id asc) and by (pr_val desc, id asc), then join each to
    * the vertex row (id, rev_name, extra…) of its id, in hc_rank order.
    */
  private def oracle(scores: Seq[Row], vertices: Seq[Row]): Seq[Seq[Any]] = {
    def by(k: Int): Ordering[Row] = (x, y) => {
      val c = compareKey(x.get(k), y.get(k), desc = true)
      if (c != 0) c else compareKey(x.get(0), y.get(0), desc = false)
    }
    val hc = scores.sorted(by(1))
    val prRank = scores.sorted(by(2)).zipWithIndex
      .map { case (r, j) => values(r) -> (j + 1L) }.toMap
    val byId = vertices.map(v => v.get(0) -> v).toMap
    hc.zipWithIndex.flatMap { case (r, i) =>
      byId.get(r.get(0)).filter(_ => !r.isNullAt(0)).map(v =>
        values(Row.fromSeq(Seq(i + 1L, r.get(1), prRank(values(r)), r.get(2)) ++ v.toSeq.tail)))
    }
  }

  /** Both paths give the oracle's rows in its order and the same schema;
    * the public entry runs in the driver and leaves no cache behind.
    */
  private def agree(scores: DataFrame, vertices: DataFrame): Unit = {
    spark.catalog.clearCache()
    val local = Ranking.joinRanks(vertices, scores)
    assert(inDriver(local))
    assert(spark.sharedState.cacheManager.isEmpty)
    val spark2 = Ranking.joinRanksSpark(vertices, scores)
    assert(!inDriver(spark2))
    assert(local.schema == spark2.schema)
    assert(local.rdd.getNumPartitions == 1)
    val want = oracle(scores.collect().toSeq, vertices.collect().toSeq)
    assert(local.collect().toSeq.map(values) == want)
    assert(spark2.collect().toSeq.map(values) == want)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  private val scoreSchema = StructType(Seq(StructField("id", LongType, true),
    StructField("hc_val", FloatType, false), StructField("pr_val", DoubleType, false)))

  private val vertexSchema = StructType(Seq(StructField("id", LongType, false),
    StructField("rev_name", StringType, false), StructField("outdeg", IntegerType, false),
    StructField("tag", StringType, true)))

  /** Vertices on a random subset of ids 0 until `n`, with two extra
    * columns, one of them nullable.
    */
  private def randomVertices(rnd: scala.util.Random, n: Int): Seq[Row] =
    (0L until n.toLong).filter(_ => rnd.nextInt(5) != 0).map(i =>
      Row(i, s"com.v$i", rnd.nextInt(50), if (rnd.nextBoolean()) s"t${rnd.nextInt(3)}" else null))

  test("both paths agree with the oracle: ties, NaN, -0.0 and 0.0, gaps, repeated score ids") {
    val hcSpecials = Seq(Float.NaN, -0.0f, 0.0f, Float.PositiveInfinity, Float.NegativeInfinity)
    val prSpecials = Seq(Double.NaN, -0.0, 0.0, Double.MinPositiveValue, -1.5)
    for (seed <- 1L to 4L) {
      val rnd = new scala.util.Random(seed)
      val vertices = randomVertices(rnd, 200)
      // scores on ids 0 until 220, so some are not vertices and some
      // vertices have none; few distinct values, so ties break by id
      val base = (0L until 220L).filter(_ => rnd.nextInt(7) != 0).map { i =>
        Row(i,
          if (rnd.nextInt(3) == 0) hcSpecials(rnd.nextInt(hcSpecials.size)) else rnd.nextInt(6).toFloat,
          if (rnd.nextInt(3) == 0) prSpecials(rnd.nextInt(prSpecials.size)) else rnd.nextInt(6).toDouble)
      }
      // null ids and repeated ids are ranked, then dropped or joined twice;
      // a repeat's values are its own, so no two rows tie on (value, id)
      val nullIds = (0 until 6).map(_ => Row(null, rnd.nextInt(6).toFloat, rnd.nextInt(6).toDouble))
      val repeats = base.filter(_ => rnd.nextInt(10) == 0).zipWithIndex.map { case (r, k) =>
        Row(r.get(0), 1000f + k, 1000.0 + k)
      }
      val scores = rnd.shuffle(base ++ nullIds ++ repeats)
      agree(spark.createDataFrame(scores.asJava, scoreSchema),
        spark.createDataFrame(vertices.asJava, vertexSchema))
    }
  }

  test("both paths agree with the oracle: decimal scores in q_rank_join's shape") {
    for (seed <- 5L to 7L) {
      val rnd = new scala.util.Random(seed)
      val vertices = randomVertices(rnd, 150)
      // cents in [-999.99, 9999.99], few distinct, so ties break by id
      val pool = Seq.fill(40)(BigDecimal(rnd.nextInt(1100000) - 100000, 2))
      val bal = (0L until 160L).map(i => Row(i, pool(rnd.nextInt(pool.size)).bigDecimal))
      val sup = spark.createDataFrame(bal.asJava, StructType(Seq(
        StructField("id", LongType, false), StructField("s_acctbal", DecimalType(15, 2), true))))
      val scores = sup.select(col("id"), col("s_acctbal").as("hc_val"),
        (col("s_acctbal") % 97).as("pr_val"))
      agree(scores, spark.createDataFrame(vertices.asJava, vertexSchema).select("id", "rev_name"))
    }
  }

  test("both paths agree on an empty input and on vertices without scores") {
    val vertices = spark.createDataFrame(randomVertices(new scala.util.Random(8L), 40).asJava,
      vertexSchema)
    val none = spark.createDataFrame(Seq.empty[Row].asJava, scoreSchema)
    agree(none, vertices)
    val scores = spark.createDataFrame((100L until 110L).map(i => Row(i, 1f, 1.0)).asJava, scoreSchema)
    agree(scores, vertices)
  }

  test("the public entry over a written hc ⋈ pr starts its load's jobs only") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rank_join").toString
    def wr(df: DataFrame, name: String): DataFrame = {
      df.write.parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    // the benchmark's graph_build shape: 2,000 hosts
    val docs = wr(SynthDocs.docs(spark, 20000L, 2000, 1009L).toDF(), "docs")
    val (v0, e0) = HostGraph.build(wr(HostGraph.hostLinks(docs), "links"))
    val (v, e) = (wr(v0, "vertices"), wr(e0, "edges"))
    val scores = wr(HarmonicCentrality.hyperball(v, e), "harmonic")
      .join(wr(PageRank.run(v, e, maxIter = 3), "pagerank"), "id")
    spark.catalog.clearCache()
    // the join is estimated as the product of its sides (over the budget
    // of the benchmark's 2 GB driver), but the files it reads are far
    // under it, so the load does not persist it first
    val sources = DriverLoad.sourceBytes(scores) + DriverLoad.sourceBytes(v)
    assert(scores.queryExecution.optimizedPlan.stats.sizeInBytes > 1000 * sources)
    assert(sources <= DriverLoad.budget(spark))
    var out: DataFrame = null
    // the broadcast of the join's small side, then the load
    val call = JobRecorder.during(spark) { out = Ranking.joinRanks(v, scores) }
    assert(call.size == 2, call)
    assert(inDriver(out))
    assert(spark.sharedState.cacheManager.isEmpty)
    // one job to write, one to read the footer back
    assert(JobRecorder.during(spark)(wr(out, "ranks")).size == 2)
    assert(spark.read.parquet(s"$dir/ranks").count() == v.count())
  }

  test("a null or repeated vertex id, or int ids, run the Spark plan") {
    val scores = spark.createDataFrame((0L until 8L).map(i => Row(i, (i % 3).toFloat, (i % 4).toDouble))
      .asJava, scoreSchema)
    val vertices = spark.createDataFrame((0L until 8L).map(i => Row(i, s"com.v$i", 1, null)).asJava,
      vertexSchema)
    val repeated = vertices.union(vertices.filter(col("id") === 3L))
    val nullId = vertices.select(when(col("id") =!= 5L, col("id")).as("id"), col("rev_name"))
    val intIds = (vertices.select(col("id").cast("int").as("id"), col("rev_name")),
      scores.select(col("id").cast("int").as("id"), col("hc_val"), col("pr_val")))
    for ((v, s) <- Seq((repeated, scores), (nullId, scores), intIds)) {
      spark.catalog.clearCache()
      val out = Ranking.joinRanks(v, s)
      assert(!inDriver(out))
      assert(out.schema == Ranking.joinRanksSpark(v, s).schema)
      val sorted = (rows: Array[Row]) => rows.toSeq.map(_.toString).sorted
      assert(sorted(out.collect()) == sorted(Ranking.joinRanksSpark(v, s).collect()))
      assert(spark.sharedState.cacheManager.isEmpty)
    }
    // the repeated vertex is joined twice, the null vertex id never
    assert(Ranking.joinRanks(repeated, scores).count() == 9L)
    assert(Ranking.joinRanks(nullId, scores).count() == 7L)
  }
}
