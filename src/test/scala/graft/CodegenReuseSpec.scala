package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.frontier.{AdjacencyFetcher, CorpusFetcher, Frontier}
import graft.functions.gf
import graft.operators._
import graft.sources.SynthDocs

/** A plan shape that runs again must not compile its generated classes
  * again: the session's codegen cache holds a whole graph chain or crawl
  * (`Graft.CodegenCacheEntries`), whole-stage class names carry no stage id,
  * and iterative operators keep their per-iteration plans free of
  * iteration-numbered literals.
  *
  * Compiles are counted with Spark's JVM-wide `CodegenMetrics`, which counts
  * cache misses only. Test suites run one at a time in the forked test JVM,
  * so no other suite moves the counter while a case runs.
  */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def compiles(body: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  test("the compile counter counts a class the JVM has not compiled") {
    // a primitive literal is inlined into the generated code, so a fresh
    // value is a fresh class
    val fresh = System.nanoTime()
    assert(compiles(spark.range(4).select(col("id") * fresh).collect()) > 0)
  }

  test("a repeated graph chain compiles no class twice") {
    val docs = SynthDocs.docs(spark, 400L, 40, seed = 5).toDF()
    // at this size the public operators run in driver memory, so the chain
    // also runs with their Spark plans
    def chain(out: String, onSpark: Boolean): Unit = {
      def wr(df: DataFrame, step: String) = {
        df.write.parquet(s"$out/$step")
        spark.read.parquet(s"$out/$step")
      }
      val links = wr(HostGraph.hostLinks(docs), "links")
      val (v0, e0) = if (onSpark) HostGraph.buildSpark(links) else HostGraph.build(links)
      val (v, e) = (wr(v0, "vertices"), wr(e0, "edges"))
      val folded = if (onSpark) DomainGraph.foldSpark(v, e) else DomainGraph.fold(v, e)
      wr(folded.vertices, "domain_vertices")
      wr(folded.edges, "domain_edges")
      val hc = wr(if (onSpark) HarmonicCentrality.hyperballSpark(v, e)
                  else HarmonicCentrality.hyperball(v, e), "harmonic")
      val pr = wr(if (onSpark) PageRank.runSpark(v, e, maxIter = 3)
                  else PageRank.run(v, e, maxIter = 3), "pagerank")
      wr(if (onSpark) Ranking.joinRanksSpark(v, hc.join(pr, "id"))
         else Ranking.joinRanks(v, hc.join(pr, "id")), "ranks")
      wr(if (onSpark) ConnectedComponents.weakSpark(v, e) else ConnectedComponents.weak(v, e), "wcc")
    }
    for (onSpark <- Seq(true, false)) {
      chain(tmp("graft_codegen_chain1"), onSpark)
      assert(compiles(chain(tmp("graft_codegen_chain2"), onSpark)) == 0L, s"spark loops: $onSpark")
    }
  }

  test("a repeated 2-round crawl compiles no class twice") {
    val nHosts = 50
    val docs = SynthDocs.docs(spark, 1000L, nHosts, seed = 5).toDF()
    val adj = tmp("graft_codegen_adj") + "/adj"
    val clustering = AdjacencyFetcher.Clustering(buckets = 4)
    AdjacencyFetcher.writeClustered(
      AdjacencyFetcher.groupPairs(CorpusFetcher.pairsOf(docs)), adj, clustering)
    val priorities = Frontier.hostPriorities(docs).localCheckpoint()
    val budgets = SynthDocs.politeness(spark, nHosts)
      .select(gf.reverse_host(col("host")).as("rev_host"), col("tokens_per_round"))
      .localCheckpoint()
    val robots = SynthDocs.politeness(spark, nHosts)
      .filter(col("tokens_per_round") === 1)
      .select(gf.reverse_host(col("host")).as("rev_host"),
        typedLit(Seq("/page/1")).as("disallow_prefixes"))
      .localCheckpoint()
    val seeds = SynthDocs.seeds(spark, 20, nHosts)
    def crawl(root: String): Unit = {
      // gates between the seed batch and the later batches, so both sides run
      val c = Frontier.Config(root, compactPendingEvery = 1,
        candidateBarrierMin = 50, broadcastFetchMax = 50)
      Frontier.init(spark, c, seeds, priorities, robots)
      Frontier.run(spark, c, AdjacencyFetcher.openClustered(spark, adj, clustering),
        2, budgets, robots, priorities)
    }
    crawl(tmp("graft_codegen_crawl1"))
    assert(compiles(crawl(tmp("graft_codegen_crawl2"))) == 0L)
  }

  test("hyperball hops share their generated classes across graph depths") {
    // Same vertices and edge count; the path is 10 hops deep, the fan 2.
    // Both repeat a source id: a broadcast join generates different code
    // for unique build keys, which would be a data change, not a hop change.
    val n = 12L
    val v = spark.range(n).toDF("id")
    val fan = ((1L to 10L).map(i => (0L, i)) :+ (1L, 11L)).toDF("from_id", "to_id")
    val path = ((0L until n - 2).map(i => (i, i + 1)) :+ (0L, 11L)).toDF("from_id", "to_id")
    def hc(e: DataFrame) = HarmonicCentrality.hyperballSpark(v, e).collect()
    hc(fan)
    assert(compiles(hc(path)) == 0L)
  }
}
