package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{PageRank, Scc}
import graft.sources.RankFiles
import graft.textops.{Multimodal, Similarity}

/** Round-2 additions: distributed SCC, personalized PageRank, multi-probe
  * LSH top-k, rank-file sink, real image decode.
  */
class Round2Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Seeded random digraph: n nodes, ~d·n arcs. */
  private def randomGraph(n: Int, d: Int, seed: Long) = {
    val nodes = spark.range(n).select($"id")
    val edges = spark.range(n.toLong * d)
      .select(pmod(xxhash64($"id", lit(seed)), lit(n.toLong)).as("from_id"),
              pmod(xxhash64($"id", lit(seed), lit(2)), lit(n.toLong)).as("to_id"))
      .filter($"from_id" =!= $"to_id").distinct()
    (nodes, edges)
  }

  /** Sequential Tarjan over the arcs between `ids`: (id → least id of its
    * SCC), the output contract of [[Scc.coloring]].
    */
  private def tarjan(ids: Seq[Long], arcs: Seq[(Long, Long)]): Map[Long, Long] = {
    val vertex = ids.toSet
    val adj = arcs.filter { case (a, b) => vertex(a) && vertex(b) }.groupMap(_._1)(_._2)
    val index = mutable.Map.empty[Long, Int]
    val low = mutable.Map.empty[Long, Int]
    val stack = mutable.Stack.empty[Long]
    val onStack = mutable.Set.empty[Long]
    val comp = mutable.Map.empty[Long, Long]
    def visit(v: Long): Unit = {
      index(v) = index.size
      low(v) = index(v)
      stack.push(v); onStack += v
      for (w <- adj.getOrElse(v, Nil)) {
        if (!index.contains(w)) { visit(w); low(v) = math.min(low(v), low(w)) }
        else if (onStack(w)) low(v) = math.min(low(v), index(w))
      }
      if (low(v) == index(v)) {
        val members = mutable.ListBuffer.empty[Long]
        var w = -1L
        while (w != v) { w = stack.pop(); onStack -= w; members += w }
        val least = members.min
        members.foreach(comp(_) = least)
      }
    }
    ids.foreach(v => if (!index.contains(v)) visit(v))
    comp.toMap
  }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("SCC coloring == sequential Tarjan on seeded random graphs") {
    for ((n, d, seed) <- Seq((40, 2, 1L), (60, 1, 2L), (50, 3, 3L))) {
      val (nodes, edges) = randomGraph(n, d, seed)
      val want = tarjan(nodes.collect().map(_.getLong(0)).toSeq, pairs(edges))
      val got = Scc.coloring(nodes, edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"mismatch on graph(n=$n,d=$d,seed=$seed)")
    }
  }

  test("SCC coloring on a chain of cycles (multi-sweep shadowing case)") {
    // 4 cycles of 3 nodes, chained by a bridge from each cycle's max node to
    // the next cycle: colors shadow downstream cycles, so each sweep
    // harvests exactly one cycle — pins the multi-sweep loop
    val nodes = spark.range(12).select($"id")
    val cyc = (0 until 4).flatMap { c =>
      val b = c * 3L
      Seq((b, b + 1), (b + 1, b + 2), (b + 2, b))
    }
    // descending bridges: cycle 3 (ids 9-11) reaches cycle 2, etc.
    val bridges = Seq((9L, 6L), (6L, 3L), (3L, 0L))
    val edges = (cyc ++ bridges).toDF("from_id", "to_id")
    val got = Scc.coloring(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0 until 12).map(i => i.toLong -> (i - i % 3).toLong).toMap
    assert(got == want)
  }

  test("SCC coloring on disjoint cycles + chain") {
    // two 3-cycles and a chain: components are the cycles + singletons
    val nodes = spark.range(8).select($"id")
    val edges = Seq(
      (0L, 1L), (1L, 2L), (2L, 0L),     // cycle {0,1,2}
      (3L, 4L), (4L, 5L), (5L, 3L),     // cycle {3,4,5}
      (5L, 6L), (6L, 7L)                // chain tail
    ).toDF("from_id", "to_id")
    val got = Scc.coloring(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      3L -> 3L, 4L -> 3L, 5L -> 3L, 6L -> 6L, 7L -> 7L))
  }

  test("SCC on a vertex-subset input equals Tarjan on the arcs inside it") {
    def scc(v: Seq[Long], e: Seq[(Long, Long)]) =
      Scc.coloring(v.toDF("id"), e.toDF("from_id", "to_id")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (nodes, edges) = randomGraph(40, 3, 4L)
    val arcs = pairs(edges)
    val cases = Seq(
      // every vertex has arcs in and out, all through non-vertices
      (Seq(0L, 1L), Seq((0L, 5L), (5L, 0L), (1L, 6L), (6L, 1L))),
      // 1 and 2 reach each other only through 5
      (Seq(1L, 2L), Seq((1L, 5L), (5L, 2L), (2L, 1L))),
      (nodes.collect().map(_.getLong(0)).filter(_ % 4 != 0).toSeq, arcs))
    for ((v, e) <- cases) {
      val inside = e.filter { case (a, b) => v.contains(a) && v.contains(b) }
      val got = scc(v, e)
      assert(got.keySet == v.toSet)
      assert(got == scc(v, inside), v)
      assert(got == tarjan(v, inside), v)
    }
  }

  test("personalized PageRank: mass conserved, preference targets favored") {
    val nodes = spark.range(10).select($"id")
    // 9 -> 8 -> ... -> 1 -> 0; 0 is dangling
    val edges = spark.range(1, 10).select($"id".as("from_id"), ($"id" - 1).as("to_id"))
    val pref = nodes.select($"id",
      when($"id" === 7, lit(1.0)).otherwise(lit(0.0)).as("pref"))
    val pr = PageRank.run(nodes, edges, Some(pref), maxIter = 20, tol = 0.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-9, s"mass=${pr.values.sum}")
    assert(pr(7L) > pr(9L)) // teleport target beats upstream node
    assert(pr(8L) == 0.0)   // unreachable from the preference support
  }

  test("multi-probe lshTopK: subset of brute candidates, recall > 0.5") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter($"vec_id" < 200)
    val q = e.filter($"vec_id" < 20)
    val brute = Similarity.topK(q, e, "vec_id", "embedding", 10)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(q, e, "vec_id", "embedding", 10)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx intersect brute).size.toDouble / brute.size
    assert(recall > 0.5, s"recall=$recall over ${brute.size} true neighbors")
    // IVF multi-probe: same contract via the inverted-file quantizer
    val ivf = Similarity.ivfTopK(q, e, "vec_id", "embedding", 10,
        nCentroids = 8, probes = 3)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfRecall = (ivf intersect brute).size.toDouble / brute.size
    assert(ivfRecall > 0.5, s"ivf recall=$ivfRecall over ${brute.size}")
  }

  test("rank-file sink: headered gzip, rank-sorted, round-trips") {
    val ranks = Seq(
      (1L, 9.5, 2L, 0.3, "com,example"),
      (2L, 7.0, 1L, 0.4, "org,example"),
      (3L, 1.0, 3L, 0.1, "net,example")
    ).toDF("hc_rank", "hc_val", "pr_rank", "pr_val", "rev_name")
    val dir = Files.createTempDirectory("graft_rankfile").toString + "/ranks"
    RankFiles.write(ranks, dir)
    // golden byte format: header + tab rows in rank order
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".gz")).sortBy(_.getName)
    assert(parts.nonEmpty)
    val text = parts.map { f =>
      val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(f))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }.mkString
    val lines = text.split("\n").filter(_.nonEmpty)
    assert(lines.head == "#harmonicc_pos\t#harmonicc_val\t#pr_pos\t#pr_val\t#host_rev")
    assert(lines.tail.head.startsWith("1\t9.5\t2\t0.3\tcom,example"))
    assert(lines.tail.map(_.split("\t")(0).toLong).toSeq == Seq(1L, 2L, 3L))
    // round-trip
    val back = RankFiles.read(spark, dir).orderBy("hc_rank").collect()
    assert(back.length == 3 && back(0).getString(4) == "com,example")
  }

  test("image decode: real javax.imageio header parse on real PNG bytes") {
    val media = Seq((5L, 20, 33), (6L, 64, 16)).toDF("seed", "w", "h")
      .select(Multimodal.encodePng($"w", $"h", $"seed").as("bytes"), $"w", $"h")
    val got = media.select(Multimodal.decodeImage($"bytes").as("d"), $"w", $"h")
      .select($"d._1".as("fmt"), $"d._2".as("dw"), $"d._3".as("dh"), $"w", $"h")
      .collect()
    got.foreach { r =>
      assert(r.getString(0) == "png")
      assert(r.getInt(1) == r.getInt(3) && r.getInt(2) == r.getInt(4))
    }
    // non-image payload falls back to the deterministic stub
    val stub = Seq(Array[Byte](1, 2, 3, 4)).toDF("bytes")
      .select(Multimodal.decodeImage($"bytes").as("d")).first().getStruct(0)
    assert(stub.getString(0) == "stub-rgb")
  }

  test("ngram jaccard: df-capped candidates produce identical pairs") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter($"doc_id" < 200)
    // the cap is opt-in (default is exact, ADVICE r2); a generous cap must
    // not change results, a degenerate cap must drop pairs OBSERVABLY
    val capped = graft.textops.Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.35,
        maxShingleDf = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = graft.textops.Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped == uncapped)
    assert(uncapped.nonEmpty)
    val starved = graft.textops.Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.35,
        maxShingleDf = 0)
      .collect()
    assert(starved.isEmpty)
  }
}
