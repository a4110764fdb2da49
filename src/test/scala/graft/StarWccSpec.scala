package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ConnectedComponents

/** Large-star/small-star WCC (the O(log n)-round scale path) against the
  * min-label-propagation baseline and closed-form cases.
  */
class StarWccSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Seeded random edge list over n nodes (hand-rolled LCG — scalacheck's
    * scalatestplus bridge is not in the offline cache).
    */
  private def randomGraph(n: Int, m: Int, seed: Long): (Seq[Long], Seq[(Long, Long)]) = {
    var s = seed
    def next(bound: Int): Long = {
      s = s * 6364136223846793005L + 1442695040888963407L
      math.floorMod(s >>> 16, bound.toLong)
    }
    val edges = (0 until m).map(_ => (next(n), next(n)))
    ((0L until n.toLong), edges)
  }

  test("star == weak (min-label propagation) on seeded random graphs") {
    for ((n, m, seed) <- Seq((40, 25, 7L), (80, 60, 11L), (120, 200, 13L), (60, 10, 17L))) {
      val (ns, es) = randomGraph(n, m, seed)
      val nodes = ns.toDF("id")
      val edges = es.toDF("from_id", "to_id")
      val a = ConnectedComponents.star(nodes, edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      for (weak <- Seq(ConnectedComponents.weak _, ConnectedComponents.weakSpark _)) {
        val b = weak(nodes, edges, 50)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(a == b, s"n=$n m=$m seed=$seed")
      }
    }
  }

  test("star converges in O(log n) rounds on a chain where label propagation pays the diameter") {
    // a 300-node path: min-label needs ~300 iterations (weak's default cap
    // is 50); star must finish well inside its 64-round budget
    val n = 300
    val nodes = (0L until n.toLong).toDF("id")
    val chain = (1L until n.toLong).map(i => (i, i - 1)).toDF("from_id", "to_id")
    val got = ConnectedComponents.star(nodes, chain)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == n && got.forall(_._2 == 0L))
  }

  test("weak fails loudly past its iteration cap instead of returning wrong labels") {
    val n = 30
    val nodes = (0L until n.toLong).toDF("id")
    val chain = (1L until n.toLong).map(i => (i, i - 1)).toDF("from_id", "to_id")
    val six = (0L until 6L).toDF("id")
    val chain6 = (1L until 6L).map(i => (i, i - 1)).toDF("from_id", "to_id")
    for (weak <- Seq(ConnectedComponents.weak _, ConnectedComponents.weakSpark _)) {
      val e = intercept[IllegalArgumentException] {
        weak(nodes, chain, 5)
      }
      assert(e.getMessage.contains("ConnectedComponents.star"))
      // boundary: diameter == maxIter converges on the final permitted
      // propagation pass and must RETURN (the confirming pass is extra)
      val got = weak(six, chain6, 5)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == 6 && got.forall(_._2 == 0L))
    }
  }

  test("isolated vertices are their own component; empty edge set") {
    val nodes = Seq(3L, 5L, 9L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("from_id", "to_id")
    val got = ConnectedComponents.star(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((3L, 3L), (5L, 5L), (9L, 9L)))
  }
}
