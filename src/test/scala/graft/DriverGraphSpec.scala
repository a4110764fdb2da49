package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** The in-driver path of HyperBall, WCC and PageRank (both dangling modes)
  * against their Spark loops, the size decision between the two
  * ([[DriverLoad.run]]), and the one form of every in-driver result
  * ([[DriverLoad.result]]).
  */
class DriverGraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Seeded random arcs over ids 0 until n (hand-rolled LCG, as in
    * StarWccSpec). Ids at or above `isolated` get no arc, and the arcs
    * repeat, so the graphs have isolated and dangling vertices and
    * duplicate arcs.
    */
  private def randomArcs(n: Int, isolated: Int, m: Int, seed: Long): Seq[(Long, Long)] = {
    var s = seed
    def next(bound: Int): Long = {
      s = s * 6364136223846793005L + 1442695040888963407L
      math.floorMod(s >>> 16, bound.toLong)
    }
    val arcs = (0 until m).map(_ => (next(isolated), next(isolated)))
    arcs ++ arcs.take(m / 5)
  }

  private def pairs(df: DataFrame): Map[Long, Any] =
    df.collect().map(r => r.getLong(0) -> r.get(1)).toMap

  private def sameHyperball(v: DataFrame, e: DataFrame, log2m: Int = 8, hops: Int = 32): Unit = {
    val (a, b) = (pairs(HarmonicCentrality.hyperball(v, e, log2m, hops)),
      pairs(HarmonicCentrality.hyperballSpark(v, e, log2m, hops)))
    assert(a.keySet == b.keySet)
    a.foreach { case (id, x) =>
      val y = b(id)
      assert(java.lang.Float.floatToRawIntBits(x.asInstanceOf[Float]) ==
        java.lang.Float.floatToRawIntBits(y.asInstanceOf[Float]), s"id $id, log2m $log2m: $x vs $y")
    }
  }

  /** Both PageRank paths, with and without dangling redistribution. */
  private def samePageRank(v: DataFrame, e: DataFrame, pref: Option[DataFrame]): Unit =
    for (redistribute <- Seq(true, false)) {
      val (a, b) = (
        pairs(PageRank.run(v, e, pref, maxIter = 40, tol = 1e-14, redistributeDangling = redistribute)),
        pairs(PageRank.runSpark(v, e, pref, maxIter = 40, tol = 1e-14,
          redistributeDangling = redistribute)))
      assert(a.keySet == b.keySet)
      a.foreach { case (id, x) =>
        val (p, q) = (x.asInstanceOf[Double], b(id).asInstanceOf[Double])
        assert(math.abs(p - q) <= 1e-12 * math.abs(q), s"id $id, redistribute $redistribute: $p vs $q")
      }
    }

  test("both paths agree on seeded random graphs: labels, hc_val bits, ranks within 1e-12") {
    for ((n, isolated, m, seed) <- Seq((50, 40, 60, 3L), (80, 70, 200, 5L), (30, 30, 15, 9L))) {
      val v = (0L until n.toLong).toDF("id")
      val e = randomArcs(n, isolated, m, seed).toDF("from_id", "to_id")
      assert(pairs(ConnectedComponents.weak(v, e)) == pairs(ConnectedComponents.weakSpark(v, e)),
        s"seed $seed")
      sameHyperball(v, e)
      samePageRank(v, e, None)
      // preference on the even ids; the odd ids drop out of the ranks
      val pref = (0L until n.toLong).filter(_ % 2 == 0).map(i => (i, 2.0 / n)).toDF("id", "pref")
      samePageRank(v, e, Some(pref))
    }
  }

  test("hyperball: hc_val bits equal the Spark loop's at every register width, and with 0 hops") {
    val v = (0L until 60L).toDF("id")
    val e = randomArcs(60, 50, 150, 11L).toDF("from_id", "to_id")
    // log2m 2 packs 4 registers into a padded word
    for (log2m <- Seq(2, 4, 6, 8, 10)) sameHyperball(v, e, log2m)
    sameHyperball(v, e, hops = 0)
    assert(pairs(HarmonicCentrality.hyperball(v, e, maxHops = 0)).values.forall(_ == 0.0f))
  }

  test("hyperball: within the HLL error of exact harmonic centrality on seeded random graphs") {
    // HLL's relative standard error is 1.04/sqrt(m) for m = 2^log2m
    // registers. hc is a weighted mean of the balls (Abel summation:
    // hc = Σ_{r<R} |B(v,r)| (1/r - 1/(r+1)) + |B(v,R)|/R - 1, the weights
    // summing to 1), so an error within 3 standard errors on every ball
    // keeps |hc_est - hc| <= 3 · 1.04/sqrt(m) · |B(v,∞)|, where B(v,∞) is
    // every vertex that reaches v
    for ((n, isolated, m, seed) <- Seq((60, 50, 120, 13L), (120, 100, 300, 17L)); log2m <- Seq(6, 10)) {
      val arcs = randomArcs(n, isolated, m, seed)
      val (v, e) = ((0L until n.toLong).toDF("id"), arcs.toDF("from_id", "to_id"))
      val est = pairs(HarmonicCentrality.hyperball(v, e, log2m))
      val exact = pairs(HarmonicCentrality.exact(v, e))
      val into = arcs.groupBy(_._2).map { case (to, as) => to -> as.map(_._1).distinct }
      val tolerance = 3 * 1.04 / math.sqrt((1 << log2m).toDouble)
      for (id <- 0L until n.toLong) {
        // B(v,∞) by a backward BFS over the arcs
        var (seen, frontier) = (Set(id), Set(id))
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(into.getOrElse(_, Nil)) -- seen
          seen ++= frontier
        }
        val err = math.abs(est(id).asInstanceOf[Float] - exact(id).asInstanceOf[Double])
        assert(err <= tolerance * seen.size, s"id $id, seed $seed, log2m $log2m: ${est(id)} vs ${exact(id)}")
      }
    }
  }

  test("vertex-subset input: arcs to or from a non-vertex are ignored on both paths") {
    // vertices 0..9 of a graph whose arcs also touch 10..14
    val v = (0L until 10L).toDF("id")
    val e = (randomArcs(15, 15, 60, 21L) ++ Seq((3L, 12L), (12L, 3L), (14L, 0L)))
      .toDF("from_id", "to_id")
    val wcc = Seq(ConnectedComponents.weak(v, e), ConnectedComponents.weakSpark(v, e)).map(pairs)
    assert(wcc.forall(_.keySet == (0L until 10L).toSet))
    assert(wcc(0) == wcc(1))
    val hc = Seq(HarmonicCentrality.hyperball(v, e), HarmonicCentrality.hyperballSpark(v, e))
      .map(pairs)
    assert(hc.forall(_.keySet == (0L until 10L).toSet))
    assert(hc.forall(_.values.forall(_ != null)))
    sameHyperball(v, e)
    val pr = PageRank.runSpark(v, e, maxIter = 40, tol = 1e-14)
    assert(pairs(pr).keySet == (0L until 10L).toSet)
    // no mass leaks out through arcs to non-vertices
    assert(math.abs(pr.agg(sum("pr_val")).first().getDouble(0) - 1.0) < 1e-9)
    samePageRank(v, e, None)
    // a preference row for a non-vertex holds no rank on either path
    val pref = Seq((0L, 0.25), (3L, 0.25), (12L, 0.5)).toDF("id", "pref")
    samePageRank(v, e, Some(pref))
    assert(pairs(PageRank.run(v, e, Some(pref))).keySet == Set(0L, 3L))
  }

  test("both paths return the same schema, nullability included") {
    val nonNull = (0L until 6L).toDF("id")
    val nullable = (0L until 6L).map(Option(_)).toDF("id")
    val arcs = Seq((0L, 1L), (1L, 2L), (4L, 3L))
    val arcsNonNull = arcs.toDF("from_id", "to_id")
    val arcsNullable = arcs.map { case (a, b) => (Option(a), Option(b)) }.toDF("from_id", "to_id")
    val prefNullable = (0L until 6L).map(i => (i, Option(1.0 / 6))).toDF("id", "pref")
    val (emptyNonNull, emptyNullable) = (nonNull.limit(0), nullable.limit(0))
    for (v <- Seq(nonNull, nullable, emptyNonNull, emptyNullable);
         e <- Seq(arcsNonNull, arcsNullable)) {
      assert(ConnectedComponents.weak(v, e).schema ==
        ConnectedComponents.weakSpark(v, e).schema)
      for (hops <- Seq(0, 32))
        assert(HarmonicCentrality.hyperball(v, e, maxHops = hops).schema ==
          HarmonicCentrality.hyperballSpark(v, e, maxHops = hops).schema)
      for (pref <- Seq(None, Some(prefNullable)); iters <- Seq(0, 5))
        assert(PageRank.run(v, e, pref, maxIter = iters).schema ==
          PageRank.runSpark(v, e, pref, maxIter = iters).schema)
    }
  }

  /** The graph `DriverGraph.load` gives a kernel, None when it declines. */
  private def loaded(v: DataFrame, e: DataFrame, state: Long, budget: Long) =
    DriverGraph.load(v, e, None, state, budget)(g => Some(Option(g)))((_, _, _) => None)

  test("decision: a budget of exactly the packed rows loads the graph, one byte less declines") {
    // 4 vertices and 3 arcs cost exactly this many bytes
    val v = (0L until 4L).toDF("id")
    val arcs = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("from_id", "to_id")
    val state = 8L
    val fits = 4 * (DriverGraph.VertexBytes + state) + 3 * DriverGraph.ArcBytes
    assert(loaded(v, arcs, state, fits).map(g => (g.n, g.src.length)).contains((4, 3)))
    assert(loaded(v, arcs, state, fits - 1).isEmpty)
  }

  private def hostLinks(): DataFrame =
    HostGraph.hostLinks(graft.sources.SynthDocs.docs(spark, 400L, 40, 7L).toDF())

  /** The host graph of a small SynthDocs corpus on the Spark plan, not
    * written: its edges are a join plan, estimated as the product of its
    * sides.
    */
  private def unwrittenHostGraph(): (DataFrame, DataFrame) = HostGraph.buildSpark(hostLinks())

  test("an unwritten host graph estimated over the budget loads in the driver, and equals the Spark loops") {
    spark.catalog.clearCache()
    val (v, e) = unwrittenHostGraph()
    val budget = DriverLoad.budget(spark)
    assert(e.queryExecution.optimizedPlan.stats.sizeInBytes > budget)
    var g: Option[DriverGraph.Graph] = None
    val load = JobRecorder.during(spark) { g = loaded(v, e, 0L, budget) }
    assert(g.exists(g => g.n > 0 && g.src.nonEmpty))
    assert(spark.sharedState.cacheManager.isEmpty)
    // each public entry starts the load's jobs and none of its Spark loop's
    var out: Seq[DataFrame] = Nil
    val jobs = JobRecorder.during(spark) {
      out = Seq(ConnectedComponents.weak(v, e), HarmonicCentrality.hyperball(v, e),
        PageRank.run(v, e, maxIter = 40, tol = 1e-14))
    }
    assert(jobs.size <= 3 * load.size, jobs)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(pairs(out(0)) == pairs(ConnectedComponents.weakSpark(v, e)))
    sameHyperball(v, e)
    samePageRank(v, e, None)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("decision: a graph over a tight budget runs the Spark loop over the persisted inputs") {
    spark.catalog.clearCache()
    val (v, e) = unwrittenHostGraph()
    val want = pairs(ConnectedComponents.weak(v, e))
    val got = DriverGraph.load(v, e, None, DriverGraph.WeakStateBytes, 1000L)(_ => Some(Map.empty[Long, Any])) {
      (v1, e1, _) =>
        assert(Seq(v1, e1).forall(_.storageLevel == StorageLevel.MEMORY_AND_DISK_SER))
        val wcc = ConnectedComponents.weakSpark(v1, e1)
        assert(wcc.queryExecution.withCachedData.exists(_.isInstanceOf[InMemoryRelation]))
        pairs(wcc)
    }
    assert(got == want)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a failing input or Spark loop leaves nothing in the cache manager") {
    spark.catalog.clearCache()
    val boom = udf((id: Long) => if (id >= 0) throw new IllegalStateException("boom") else id)
    val v = spark.range(0, 10).toDF("id")
    val e = spark.range(0, 10).select(boom(col("id")).as("from_id"), (col("id") + 1).as("to_id"))
    intercept[Exception](PageRank.runSpark(v, e).collect())
    assert(spark.sharedState.cacheManager.isEmpty)
    intercept[Exception](PageRank.run(v, e, redistributeDangling = false).collect())
    assert(spark.sharedState.cacheManager.isEmpty)
    // the load persists inputs estimated over the budget, then throws
    intercept[Exception](loaded(v, e, 0L, 1L))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("the public entry starts no job beyond the load collect") {
    val v = (0L until 6L).toDF("id")
    val e = Seq((1L, 0L), (1L, 2L), (4L, 3L)).toDF("from_id", "to_id")
    var out: DataFrame = null
    val jobs = JobRecorder.during(spark) { out = ConnectedComponents.weak(v, e) }
    assert(jobs.size <= 3, jobs)
    assert(pairs(out) == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L, 5L -> 5L))
    // the Spark loop needs several per iteration
    assert(JobRecorder.during(spark) { ConnectedComponents.weakSpark(v, e) }.size > jobs.size)
  }

  test("fixed-k PageRank on the q_pagerank graph shape starts no job beyond the load") {
    // 25 vertices; a chain within each group of 5 and a star to each
    // group's head, as a union+distinct plan
    val nation = (0L until 25L).map(n => (n, n * 3 % 5)).toDF("n", "group")
    val v = nation.select(col("n").as("id"))
    val chain = nation.filter(col("n") % 5 =!= 0).select(col("n").as("from_id"), (col("n") - 1).as("to_id"))
    val star = nation.select(col("n").as("from_id"), (col("group") * 5).as("to_id"))
      .filter(col("from_id") =!= col("to_id"))
    val e = chain.union(star).distinct()
    val pref = v.select(col("id"), when(col("id") < 5, lit(0.2)).otherwise(lit(0.0)).as("pref"))
    for (p <- Seq(None, Some(pref)); redistribute <- Seq(true, false)) {
      var out: DataFrame = null
      val jobs = JobRecorder.during(spark) {
        out = PageRank.run(v, e, p, maxIter = 3, tol = 0.0, redistributeDangling = redistribute)
      }
      assert(jobs.size <= 3, jobs)
      val want = pairs(PageRank.runSpark(v, e, p, maxIter = 3, tol = 0.0,
        redistributeDangling = redistribute))
      val got = pairs(out)
      assert(got.keySet == want.keySet)
      got.foreach { case (id, x) =>
        assert(math.abs(x.asInstanceOf[Double] - want(id).asInstanceOf[Double]) <= 1e-15, s"id $id")
      }
    }
  }

  /** `df`'s rows as [[DriverLoad.result]] packs them: each binary row after
    * its length.
    */
  private def packedBytes(df: DataFrame): BigInt =
    df.queryExecution.executedPlan.executeCollect()
      .map(r => r.asInstanceOf[UnsafeRow].getSizeInBytes + 4L).sum

  test("every in-driver result is one leaf sized at its packed bytes, within the budget") {
    spark.catalog.clearCache()
    val (v, e) = HostGraph.build(hostLinks())
    val domains = DomainGraph.fold(v, e)
    val hc = HarmonicCentrality.hyperball(v, e)
    val pr = PageRank.run(v, e, maxIter = 3)
    val results = Seq("build vertices" -> v, "build edges" -> e,
      "fold vertices" -> domains.vertices, "fold edges" -> domains.edges,
      "fold mapping" -> domains.hostToDomain, "hyperball" -> hc,
      "weak" -> ConnectedComponents.weak(v, e), "pagerank" -> pr,
      "rowNumber" -> Ranks.rowNumber(v, Seq(col("rev_name").desc), "r"),
      "joinRanks" -> Ranking.joinRanks(v, hc.join(pr, "id")))
    val budget = DriverLoad.budget(spark)
    for ((name, df) <- results) {
      val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.size == 1, name)
      val bytes = packedBytes(df)
      assert(bytes > 0, name)
      assert(leaves.head.stats.sizeInBytes == bytes, name)
      assert(DriverLoad.sourceBytes(df) <= budget, name)
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("WCC over the build's unwritten host graph starts one load job and caches nothing") {
    spark.catalog.clearCache()
    val (v, e) = HostGraph.build(hostLinks())
    var out: DataFrame = null
    // from a job log: the build's results are sized within the budget, so
    // the load persists neither and collects both in one job
    val jobs = JobRecorder.during(spark) { out = ConnectedComponents.weak(v, e) }
    assert(jobs.size == 1, jobs)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(pairs(out) == pairs(ConnectedComponents.weakSpark(v, e)))
  }

  test("a result over RowsPerSlice rows is two partitions and keeps its row order") {
    val n = DriverLoad.RowsPerSlice + 5
    val schema = StructType(Seq(StructField("i", LongType, nullable = false)))
    val df = DriverLoad.result(spark, schema, Iterator.range(0, n).map(i => InternalRow(i.toLong)))
    // per partition: its index, first and last value, row count, and
    // whether each value follows the one before
    val slices = df.queryExecution.toRdd.mapPartitionsWithIndex { (p, it) =>
      var (first, last, count, ordered) = (-1L, -1L, 0L, true)
      it.foreach { r =>
        val x = r.getLong(0)
        if (count == 0) first = x else ordered &&= x == last + 1
        last = x
        count += 1
      }
      Iterator.single((p, first, last, count, ordered))
    }.collect().toSeq
    val full = DriverLoad.RowsPerSlice.toLong
    assert(slices == Seq((0, 0L, full - 1, full, true), (1, full, n - 1L, 5L, true)))
  }
}
