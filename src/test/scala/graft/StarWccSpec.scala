package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ConnectedComponents

/** [[ConnectedComponents.weak]]'s two paths — union-find in driver memory
  * and the large-star/small-star Spark loop (`weakSpark`) — against a
  * sequential BFS oracle.
  */
class StarWccSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private type Arc = (Option[Long], Option[Long])

  /** Seeded random graph (hand-rolled LCG — scalacheck's scalatestplus
    * bridge is not in the offline cache). The vertex ids are 0 until n, or
    * every third id from 1 when `sparse`. Vertices from `isolated` on get
    * no arc. About one endpoint in ten is a non-vertex id and one in twenty
    * is null; a tenth of the arcs are self-loops, and a fifth repeat.
    */
  private def randomGraph(n: Int, isolated: Int, m: Int, seed: Long,
                          sparse: Boolean): (Seq[Long], Seq[Arc]) = {
    var s = seed
    def next(bound: Int): Int = {
      s = s * 6364136223846793005L + 1442695040888963407L
      math.floorMod(s >>> 16, bound.toLong).toInt
    }
    def id(i: Int): Long = if (sparse) 3L * i + 1 else i.toLong
    val ids = (0 until n).map(id)
    def endpoint(): Option[Long] = next(20) match {
      case 0 => None
      case 1 | 2 => Some(if (sparse) 3L * next(n) else n.toLong + next(n)) // not a vertex
      case _ => Some(id(next(isolated)))
    }
    val arcs = (0 until m).map { _ =>
      val a = endpoint()
      (a, if (next(10) == 0) a else endpoint())
    }
    (ids, arcs ++ arcs.take(m / 5))
  }

  /** Labels by BFS over the arcs between vertices, read in either
    * direction: each search starts at the least unlabelled id.
    */
  private def oracle(ids: Seq[Long], arcs: Seq[Arc]): Map[Long, Long] = {
    val vertex = ids.toSet
    val adj = mutable.Map.empty[Long, List[Long]].withDefaultValue(Nil)
    for ((Some(a), Some(b)) <- arcs if vertex(a) && vertex(b)) {
      adj(a) = b :: adj(a)
      adj(b) = a :: adj(b)
    }
    val label = mutable.Map.empty[Long, Long]
    for (root <- ids.sorted if !label.contains(root)) {
      label(root) = root
      val queue = mutable.Queue(root)
      while (queue.nonEmpty)
        for (w <- adj(queue.dequeue()) if !label.contains(w)) {
          label(w) = root
          queue.enqueue(w)
        }
    }
    label.toMap
  }

  private def labels(df: DataFrame): Map[Long, Long] = {
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.length == rows.map(_._1).distinct.length, "one row per vertex")
    rows.toMap
  }

  private val paths = Seq("weak" -> ConnectedComponents.weak _,
    "weakSpark" -> ConnectedComponents.weakSpark _)

  test("both paths agree with a sequential BFS oracle on seeded random graphs") {
    for ((n, isolated, m, seed, sparse) <- Seq((40, 35, 25, 7L, false), (80, 70, 60, 11L, true),
        (120, 120, 200, 13L, false), (60, 50, 10, 17L, true), (50, 50, 150, 19L, true))) {
      val (ids, arcs) = randomGraph(n, isolated, m, seed, sparse)
      val expected = oracle(ids, arcs)
      val (v, e) = (ids.toDF("id"), arcs.toDF("from_id", "to_id"))
      for ((name, weak) <- paths)
        assert(labels(weak(v, e)) == expected, s"$name n=$n m=$m seed=$seed")
    }
  }

  test("a 300-node chain is one component on both paths") {
    // min-label propagation would need ~300 rounds here; union-find needs
    // none and the star loop O(log n)
    val n = 300
    val v = (0L until n.toLong).toDF("id")
    val chain = (1L until n.toLong).map(i => (i, i - 1)).toDF("from_id", "to_id")
    for ((name, weak) <- paths)
      assert(labels(weak(v, chain)) == (0L until n.toLong).map(_ -> 0L).toMap, name)
  }

  test("isolated vertices are their own component; empty edge set") {
    val v = Seq(3L, 5L, 9L).toDF("id")
    val e = Seq.empty[(Long, Long)].toDF("from_id", "to_id")
    for ((name, weak) <- paths)
      assert(labels(weak(v, e)) == Map(3L -> 3L, 5L -> 5L, 9L -> 9L), name)
  }
}
