package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.explore.GraphSession
import graft.operators.{HostGraph, Scc}

class MergeSccExploreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("multi-crawl merge reuses existing vertex ids, appends dense new ids (H3)") {
    val crawl1 = Seq(("com.a", "com.b"), ("com.b", "com.c")).toDF("from_host", "to_host")
    val crawl2 = Seq(("com.a", "com.d"), ("com.e", "com.b")).toDF("from_host", "to_host")
    val (v1, _) = HostGraph.build(crawl1)
    val v1Map = v1.collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(v1Map == Map("com.a" -> 0L, "com.b" -> 1L, "com.c" -> 2L))

    val (vm, em) = HostGraph.buildWithExistingIds(
      HostGraph.mergeLinks(Seq(crawl1, crawl2)), v1)
    val vmMap = vm.collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    // old ids stable; new names com.d, com.e appended densely in sort order
    assert(vmMap == Map("com.a" -> 0L, "com.b" -> 1L, "com.c" -> 2L,
                        "com.d" -> 3L, "com.e" -> 4L))
    val edges = em.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges == Set((0L, 1L), (1L, 2L), (0L, 3L), (4L, 1L)))
  }

  test("SCC: cycles found, DAG parts singleton (F5)") {
    // cycle {0,1,2}; 3→4 chain; 2→3 bridge; 5 isolated
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L))
      .toDF("from_id", "to_id")
    val v = (0L to 5L).toDF("id")
    val scc = Scc.coloring(v, e).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(scc == Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L), (4L, 4L), (5L, 5L)))
  }

  test("GraphSession mirrors GraphExplorer commands (cn/pwn/ls/sl)") {
    val v = Seq((0L, "com.a"), (1L, "com.b"), (2L, "com.c")).toDF("id", "rev_name")
    val e = Seq((0L, 1L), (0L, 2L), (1L, 2L)).toDF("from_id", "to_id")
    val g = new GraphSession(v, e)
    g.cn("com.a")
    assert(g.pwn().contains((0L, "com.a")))
    assert(g.ls() == Seq(1L, 2L))
    g.cn(2L)
    assert(g.sl() == Seq(0L, 1L))
    assert(g.vertexLabelToId("com.c").contains(2L))
    assert(g.vertexIdToLabel(1L).contains("com.b"))
    assert(g.sharedSuccessors(Seq(0L, 1L), 2, 2) == Seq(2L))
    assert(g.prefix("com.").count() == 3)
  }

  test("GraphSession file import/export round-trips vertex sets (GraphExplorer.java:189-313)") {
    val v = Seq((0L, "com.a"), (1L, "com.b"), (2L, "com.c")).toDF("id", "rev_name")
    val e = Seq((0L, 1L), (1L, 2L)).toDF("from_id", "to_id")
    val g = new GraphSession(v, e)
    val dir = java.nio.file.Files.createTempDirectory("graft_explore_io")
    val f = s"$dir/set.txt"
    // save keeps order, one line PER INPUT ID (GraphExplorer.java:208-243
    // prints unconditionally; unknown ids fall back to their decimal string
    // where the reference's dense-list lookup would throw)
    g.saveVerticesToFile(Seq(2L, 0L, 99L), f)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(f)) == "com.c\ncom.a\n99\n")
    // load keeps file order, drops unknown labels
    g.saveToFile(Seq("com.b", "org.unknown", "com.a"), f)
    assert(g.loadVerticesFromFile(f) == Seq(1L, 0L))
    // counts export is `<count>\t<value>` in (count desc, value asc) order
    val freq = g.frequencies(
      Seq("x", "y", "x").toDF("s"), "s")
    g.saveCountsToFile(freq, f)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(f)) == "2\tx\n1\ty\n")
    assert(g.formatVertices(Seq(1L, 2L)) == Seq("0: com.b", "1: com.c"))
  }
}
