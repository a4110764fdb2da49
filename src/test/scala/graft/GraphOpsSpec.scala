package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

class GraphOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def edgesDf(pairs: (Long, Long)*) = pairs.toDF("from_id", "to_id")
  private def vertsDf(n: Int) = (0L until n.toLong).toDF("id")

  test("counting merge: reference fixture matrix (TestCountingMergedIntIterator.java:24-66)") {
    val fixtures: Seq[Seq[Seq[Int]]] = Seq(
      Seq(Seq(0, 1)),
      Seq(Seq(0), Seq(1)),
      Seq(Seq(1), Seq(0)),
      Seq(Seq(1), Seq(0), Seq()),
      Seq(Seq(1), Seq(0), Seq(), Seq(0), Seq(0)),
      Seq(Seq(1), Seq(0), Seq(), Seq(0), Seq(0, 1)),
      Seq(Seq(1, 1), Seq(0, 0), Seq(), Seq(0, 0), Seq(0, 0)),
      Seq(Seq(1, 1), Seq(0, 0), Seq(), Seq(0), Seq(0, 1)))
    fixtures.foreach { arrays =>
      val df = arrays.flatten.toDF("value")
      val merged = Explore.countingMerge(df).collect()
        .map(r => (r.getAs[Int]("value"), r.getAs[Long]("multiplicity")))
      // merged order 0,1; total multiplicity = sum of input lengths
      assert(merged.map(_._1).toSeq == merged.map(_._1).sorted.toSeq)
      assert(merged.map(_._2).sum == arrays.map(_.size).sum)
      assert(merged.map(_._1).toSet == arrays.flatten.toSet)
    }
  }

  test("shared successors k-of-n (Graph.java:338-360 javadoc example)") {
    // a=0:{d,e}, b=1:{d,f}, c=2:{d,e,g} with d=10,e=11,f=12,g=13
    val e = edgesDf((0, 10), (0, 11), (1, 10), (1, 12), (2, 10), (2, 11), (2, 13))
    def shared(mn: Int, mx: Int) =
      Explore.sharedSuccessors(e, Seq(0, 1, 2), mn, mx).collect().map(_.getLong(0)).toSeq
    assert(shared(3, 3) == Seq(10))          // intersection {d}
    assert(shared(1, 3) == Seq(10, 11, 12, 13)) // union
    assert(shared(2, 2) == Seq(11))          // exactly-2 {e}
  }

  test("rank join: row_number tie-break (value desc, id asc) (JoinSortRanks.java:57-87)") {
    val vertices = Seq((0L, "com.a"), (1L, "com.b"), (2L, "com.c"), (3L, "com.d"))
      .toDF("id", "rev_name")
    val scores = Seq(
      (0L, 0.5f, 0.3), (1L, 0.7f, 0.3), (2L, 0.5f, 0.9), (3L, 0.7f, 0.1))
      .toDF("id", "hc_val", "pr_val")
    val out = Ranking.joinRanks(vertices, scores).collect()
      .map(r => (r.getAs[Long]("hc_rank"), r.getAs[Long]("pr_rank"), r.getAs[String]("rev_name")))
    // hc: 0.7@id1 → 1, 0.7@id3 → 2, 0.5@id0 → 3, 0.5@id2 → 4
    // pr: 0.9@id2 → 1, 0.3@id0 → 2, 0.3@id1 → 3, 0.1@id3 → 4
    assert(out.toSeq == Seq(
      (1L, 3L, "com.b"), (2L, 4L, "com.d"), (3L, 2L, "com.a"), (4L, 1L, "com.c")))
  }

  test("degrees + distribution + top-k") {
    val e = edgesDf((0, 1), (0, 2), (0, 3), (1, 2), (2, 3), (3, 0))
    val v = vertsDf(5).withColumn("rev_name", concat(lit("com.v"), col("id")))
    val deg = Ranking.withDegrees(v, e).orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("outdeg"), r.getAs[Long]("indeg")))
    assert(deg.toSeq == Seq((0L, 3L, 1L), (1L, 1L, 1L), (2L, 1L, 2L), (3L, 1L, 2L), (4L, 0L, 0L)))
    val dist = Ranking.degreeDistribution(Ranking.withDegrees(v, e), "outdeg").collect()
      .map(r => (r.getAs[Long]("degree"), r.getAs[Long]("n_nodes")))
    assert(dist.toSeq == Seq((1L, 3L), (3L, 1L)))
    val top = Ranking.topDegrees(Ranking.withDegrees(v, e), "outdeg", threshold = 0, k = 2)
      .collect().map(_.getAs[Long]("id"))
    assert(top.toSeq == Seq(0L, 1L))
  }

  /** Sequential power iteration: `iters` steps from the preference (1/n
    * each when None); dangling mass goes back by the preference when
    * `redistribute`, else it is dropped.
    */
  private def powerIteration(n: Int, edges: Seq[(Long, Long)], pref: Option[Array[Double]],
                             redistribute: Boolean, iters: Int): Array[Double] = {
    val p = pref.getOrElse(Array.fill(n)(1.0 / n))
    var r = p.clone()
    val out = edges.groupBy(_._1).map { case (k, v) => (k, v.map(_._2)) }
    (1 to iters).foreach { _ =>
      val nr = Array.fill(n)(0.0)
      var dangling = 0.0
      (0 until n).foreach { u =>
        out.get(u.toLong) match {
          case Some(ts) => ts.foreach(t => nr(t.toInt) += 0.85 * r(u) / ts.size)
          case None => dangling += r(u)
        }
      }
      if (!redistribute) dangling = 0.0
      (0 until n).foreach(v => nr(v) += (0.15 + 0.85 * dangling) * p(v))
      r = nr
    }
    r
  }

  test("PageRank matches sequential reference implementation") {
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 2L), (1L, 4L))
    val n = 5
    val prefs = Seq(None, Some(Array(0.5, 0.0, 0.25, 0.25, 0.0)))
    for (pref <- prefs; redistribute <- Seq(true, false); iters <- Seq(3, 40)) {
      val want = powerIteration(n, edges, pref, redistribute, iters)
      val prefDf = pref.map(p => p.indices.map(i => (i.toLong, p(i))).toDF("id", "pref"))
      for (run <- Seq(PageRank.run _, PageRank.runSpark _)) {
        val got = run(vertsDf(n), edgesDf(edges: _*), prefDf, 0.85, iters, 0.0, redistribute)
          .orderBy("id").collect().map(_.getAs[Double]("pr_val"))
        val at = s"pref ${pref.isDefined}, redistribute $redistribute, $iters steps"
        assert(got.length == n, at)
        got.zip(want).foreach { case (g, e) => assert(math.abs(g - e) < 1e-9, s"$at: $g vs $e") }
        // stochastic only when the dangling mass (vertex 4's) goes back
        if (redistribute) assert(math.abs(got.sum - 1.0) < 1e-9, at)
        else assert(got.sum < 1.0 - 1e-3, at)
      }
    }
  }

  test("harmonic centrality: exact BFS matches brute-force Floyd-Warshall") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 3L), (3L, 4L), (5L, 0L))
    val n = 6
    val INF = 1e9
    val d = Array.fill(n, n)(INF)
    (0 until n).foreach(i => d(i)(i) = 0.0)
    edges.foreach { case (f, t) => d(f.toInt)(t.toInt) = 1.0 }
    for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
      if (d(i)(k) + d(k)(j) < d(i)(j)) d(i)(j) = d(i)(k) + d(k)(j)
    val expected = (0 until n).map { v =>
      (0 until n).filter(u => u != v && d(u)(v) < INF).map(u => 1.0 / d(u)(v)).sum
    }
    val got = HarmonicCentrality.exact(vertsDf(n), edgesDf(edges: _*))
      .orderBy("id").collect().map(_.getAs[Double]("hc_val"))
    got.zip(expected).foreach { case (g, e) => assert(math.abs(g - e) < 1e-5, s"$g vs $e") }
  }

  test("harmonic centrality: exact on a vertex subset equals exact on the arcs inside it") {
    def hc(v: Seq[Long], e: Seq[(Long, Long)]) =
      HarmonicCentrality.exact(v.toDF("id"), edgesDf(e: _*)).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rnd = new scala.util.Random(11)
    val arcs = Seq.fill(80)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
    val cases = Seq(
      // 2 is reached from 1 only through the non-vertex 5
      (Seq(1L, 2L), Seq((1L, 5L), (5L, 2L))),
      ((0L until 20L).filter(_ % 3 != 0), arcs))
    for ((v, e) <- cases) {
      val inside = e.filter { case (a, b) => v.contains(a) && v.contains(b) }
      val got = hc(v, e)
      assert(got.keySet == v.toSet)
      assert(got == hc(v, inside), v)
    }
    assert(hc(Seq(1L, 2L), Seq((1L, 5L), (5L, 2L))) == Map(1L -> 0.0, 2L -> 0.0))
  }

  test("harmonic centrality: hyperball approximates exact on a small graph") {
    val rnd = new scala.util.Random(7)
    val n = 60
    val edges = (for (_ <- 1 to 300) yield (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(p => p._1 != p._2).distinct
    val v = vertsDf(n)
    val e = edgesDf(edges: _*)
    val exact = HarmonicCentrality.exact(v, e).orderBy("id").collect().map(_.getAs[Double]("hc_val"))
    for (hyperball <- Seq(HarmonicCentrality.hyperball _, HarmonicCentrality.hyperballSpark _)) {
      val approx = hyperball(v, e, 10, 32).orderBy("id").collect().map(_.getAs[Float]("hc_val").toDouble)
      val relErr = math.abs(approx.sum - exact.sum) / exact.sum
      assert(relErr < 0.1, s"relative error $relErr")
    }
  }

  test("connected components: min-label fixpoint + sizes") {
    // components {0,1,2}, {3,4}, {5}
    val e = edgesDf((1, 0), (1, 2), (4, 3))
    for (weak <- Seq(ConnectedComponents.weak _, ConnectedComponents.weakSpark _)) {
      val cc = weak(vertsDf(6), e).orderBy("id").collect()
        .map(_.getAs[Long]("component"))
      assert(cc.toSeq == Seq(0L, 0L, 0L, 3L, 3L, 5L))
      val sizes = ConnectedComponents.sizes(weak(vertsDf(6), e)).collect()
        .map(r => (r.getAs[Long]("component_rank"), r.getAs[Long]("size")))
      assert(sizes.toSeq == Seq((0L, 3L), (1L, 2L), (2L, 1L)))
    }
  }

  test("preference vector: 1/n for members, 0 otherwise, stochastic (CreatePreferenceVector.java)") {
    val v = Seq((0L, "com.a"), (1L, "com.b"), (2L, "com.c"), (3L, "com.d")).toDF("id", "rev_name")
    val prefSet = Seq("com.b", "com.d", "com.zz-not-present").toDF("rev_name")
    val pref = PreferenceVector.create(v, prefSet)
    assert(PreferenceVector.isStochastic(pref))
    val vals = pref.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(vals.toSeq == Seq((0L, 0.0), (1L, 0.5), (2L, 0.0), (3L, 0.5)))
  }

  test("subgraph metrics (Graph.java:502-531)") {
    // members {0,1}; arcs: 0→1 inside, 1→2 out, 3→0 in, 3→2 unrelated
    val e = edgesDf((0, 1), (1, 2), (3, 0), (3, 2))
    val m = Seq(0L, 1L).toDF("id")
    val r = Explore.subgraphMetrics(e, m).first()
    assert(r.getAs[Long]("n_nodes") == 2)
    assert(r.getAs[Long]("arcs_inside") == 1)
    assert(r.getAs[Long]("arcs_out") == 1)
    assert(r.getAs[Long]("arcs_in") == 1)
    assert(r.getAs[Long]("outer_linked") == 1)
    assert(r.getAs[Long]("outer_linking") == 1)
  }

  test("explore: successors, predecessors, intersect, difference, prefix") {
    val e = edgesDf((0, 1), (0, 2), (1, 2), (2, 0))
    assert(Explore.successors(e, 0).collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(Explore.predecessors(e, 2).collect().map(_.getLong(0)).toSeq == Seq(0L, 1L))
    val a = Seq(1L, 2L, 3L).toDF("id")
    val b = Seq(2L, 3L, 4L).toDF("id")
    assert(Explore.intersect(a, b).collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
    assert(Explore.difference(a, b).collect().map(_.getLong(0)).toSeq == Seq(1L))
    val v = Seq((0L, "com.example"), (1L, "com.example.www"), (2L, "org.example"))
      .toDF("id", "rev_name")
    assert(Explore.prefixVertices(v, "com.").collect().map(_.getLong(0)).toSeq == Seq(0L, 1L))
  }
}
