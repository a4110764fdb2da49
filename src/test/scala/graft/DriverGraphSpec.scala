package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** The in-driver path of HyperBall, WCC and PageRank against their Spark
  * loops, and the size decision between the two.
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

  private def sameHyperball(v: DataFrame, e: DataFrame): Unit = {
    val (a, b) = (pairs(HarmonicCentrality.hyperball(v, e)),
      pairs(HarmonicCentrality.hyperballSpark(v, e)))
    assert(a.keySet == b.keySet)
    a.foreach { case (id, x) =>
      val y = b(id)
      assert(java.lang.Float.floatToRawIntBits(x.asInstanceOf[Float]) ==
        java.lang.Float.floatToRawIntBits(y.asInstanceOf[Float]), s"id $id: $x vs $y")
    }
  }

  private def samePageRank(v: DataFrame, e: DataFrame, pref: Option[DataFrame]): Unit = {
    val (a, b) = (pairs(PageRank.run(v, e, pref, maxIter = 40, tol = 1e-14)),
      pairs(PageRank.runSpark(v, e, pref, maxIter = 40, tol = 1e-14)))
    assert(a.keySet == b.keySet)
    a.foreach { case (id, x) =>
      val (p, q) = (x.asInstanceOf[Double], b(id).asInstanceOf[Double])
      assert(math.abs(p - q) <= 1e-12 * math.abs(q), s"id $id: $p vs $q")
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
  }

  test("both paths return the same schema, nullability included") {
    val nonNull = (0L until 6L).toDF("id")
    val nullable = (0L until 6L).map(Option(_)).toDF("id")
    val arcs = Seq((0L, 1L), (1L, 2L), (4L, 3L))
    val arcsNonNull = arcs.toDF("from_id", "to_id")
    val arcsNullable = arcs.map { case (a, b) => (Option(a), Option(b)) }.toDF("from_id", "to_id")
    val prefNullable = (0L until 6L).map(i => (i, Option(1.0 / 6))).toDF("id", "pref")
    for (v <- Seq(nonNull, nullable); e <- Seq(arcsNonNull, arcsNullable)) {
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

  test("decision: a plan estimated over the budget declines without a job; max + 1 declines") {
    // `range` estimates 8 bytes a row and starts no job to say so
    val huge = spark.range(0L, 1L << 40).toDF("id")
    val e = Seq((0L, 1L)).toDF("from_id", "to_id")
    var declined: Option[DriverGraph.Graph] = None
    assert(JobRecorder.during(spark) {
      declined = DriverGraph.load(huge, e, None, 0L, DriverLoad.budget(spark))
    }.isEmpty)
    assert(declined.isEmpty)
    // 4 vertices and 3 arcs cost exactly this many bytes
    val v = (0L until 4L).toDF("id")
    val arcs = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("from_id", "to_id")
    val state = 8L
    val fits = 4 * (DriverGraph.VertexBytes + state) + 3 * DriverGraph.ArcBytes
    val loaded = DriverGraph.load(v, arcs, None, state, fits)
    assert(loaded.map(g => (g.n, g.src.length)).contains((4, 3)))
    // one arc more than the budget holds is declined after the collect
    val tight = fits - DriverGraph.ArcBytes + 1
    assert(JobRecorder.during(spark) {
      declined = DriverGraph.load(v, arcs, None, state, tight)
    }.nonEmpty)
    assert(declined.isEmpty)
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
}
