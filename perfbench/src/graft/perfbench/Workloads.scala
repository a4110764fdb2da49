package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.frontier.{AdjacencyFetcher, CorpusFetcher, Frontier}
import graft.functions.gf
import graft.operators._
import graft.sources.SynthDocs

/** What a workload needs from the run: the session, its thread count, the
  * input variant derived from the seed, the input scale and the tracer.
  */
final class Ctx(val spark: SparkSession, val k: Int, val variant: Int,
                val toy: Boolean, val tracer: Tracer) {
  /** Seed of the generated inputs. */
  def dataSeed: Long = 1000L + variant
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** The timed part of one pass. `opWalls` are the walls of the pass's
  * operations (crawl rounds, chain steps); `work` is the count the
  * throughput metric divides by the pass wall (URLs scheduled, docs).
  */
final case class Pass(wallS: Double, work: Long, opWalls: Seq[Double], stateBytes: Long)

/** A workload: inputs written once by `setup`, then timed passes over them.
  * `outputs` reads the checked results of a pass after its timing ends;
  * `counters` returns exact per-pass counts the trace reports.
  */
trait Workload {
  /** Operations per pass — the unit of `attempted` and `failed`. */
  def opsPerPass: Int
  /** Input sizes, recorded in the run report. */
  def sizes: Seq[(String, Long)]
  def setup(dir: String): Unit
  def open(dir: String): Unit
  def pass(i: Int, scratch: String): Pass
  def outputs(i: Int, scratch: String): Seq[(String, String)]
  def counters(i: Int, scratch: String): Map[String, Double] = Map.empty
  def cleanup(i: Int, scratch: String): Unit = Workloads.deleteTree(s"$scratch/pass-$i")
}

object Workloads {
  val names: Seq[String] = Seq("crawl", "graph_build")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "crawl" => new Crawl(ctx)
    case "graph_build" => new GraphBuild(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Bytes and regular files under a directory tree (0 when missing). */
  def du(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  /** Order-sensitive digest of rows rendered as strings. */
  def digest(rows: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.getBytes(StandardCharsets.UTF_8)); md.update(10.toByte) }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Times each step of a pass (the pass's operations) and opens its span. */
  final class Steps(tracer: Tracer) {
    val walls: ArrayBuffer[Double] = ArrayBuffer.empty
    def apply[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try tracer.span(name)(body) finally walls += secondsSince(t0)
    }
  }

  def writeRead(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    df.write.parquet(path)
    spark.read.parquet(path)
  }
}

import Workloads._

/** Politeness-aware crawl over a generated corpus, through the clustered
  * adjacency fetcher. Rounds grow from the seed batch to budget-bound
  * batches; the two gates are set between those sizes so both sides of each
  * run, and pending compaction runs every other round. Three rounds keep a
  * pass short enough for a run to time two passes after its warm-up.
  */
final class Crawl(ctx: Ctx) extends Workload {
  import ctx._
  private val (nDocs, nHosts, nSeeds, tokens, rounds) =
    if (toy) (1000L, 50, 20, 2, 2) else (20000L, 1000, 1000, 2, 3)
  private val gateMin = if (toy) 50L else 2000L
  val opsPerPass: Int = rounds
  def sizes: Seq[(String, Long)] = Seq("docs" -> nDocs, "hosts" -> nHosts.toLong,
    "seeds" -> nSeeds.toLong, "token_multiplier" -> tokens.toLong, "rounds" -> rounds.toLong,
    "candidate_barrier_min" -> gateMin, "broadcast_fetch_max" -> gateMin,
    "compact_pending_every" -> 2L)
  private val clustering = AdjacencyFetcher.Clustering(buckets = 16, byRange = true)
  private var dir = ""
  private var seeds, priorities, budgets, robots: DataFrame = _

  def setup(d: String): Unit = {
    val docs = SynthDocs.docs(spark, nDocs, nHosts, dataSeed, partitions = k).toDF()
    AdjacencyFetcher.writeClustered(
      AdjacencyFetcher.groupPairs(CorpusFetcher.pairsOf(docs)), s"$d/adj", clustering)
  }

  /** The small per-host tables are plans over `range`, not written inputs. */
  def open(d: String): Unit = {
    dir = d
    val hosts = spark.range(nHosts).select(col("id"),
      gf.reverse_host(SynthDocs.hostName(col("id").cast("int"))).as("rev_host"))
    // a generated priority table: harmonic centrality is timed in graph_build
    priorities = hosts.select(col("rev_host"),
      (pmod(xxhash64(col("id"), lit(dataSeed)), lit(1000000L)) / 1e6).as("priority"))
    budgets = SynthDocs.politeness(spark, nHosts, dataSeed)
      .select(gf.reverse_host(col("host")).as("rev_host"),
        (col("tokens_per_round") * tokens).as("tokens_per_round"))
    seeds = SynthDocs.seeds(spark, nSeeds, nHosts, dataSeed)
    // every 20th host disallows its /page/1… paths, so the robots filter drops rows
    robots = hosts.filter(pmod(col("id"), lit(20)) === 3)
      .select(col("rev_host"), array(lit("/page/1")).as("disallow_prefixes"))
  }

  private def config(i: Int, scratch: String) = Frontier.Config(s"$scratch/pass-$i",
    compactPendingEvery = 2, candidateBarrierMin = gateMin, broadcastFetchMax = gateMin)

  // tableio writes of the pass, measured between init and the end of the run
  private var afterInit = (0L, 0L)

  def pass(i: Int, scratch: String): Pass = {
    val c = config(i, scratch)
    val fetcher = AdjacencyFetcher.openClustered(spark, s"$dir/adj", clustering)
    val t0 = System.nanoTime()
    span("frontier.init")(Frontier.init(spark, c, seeds, priorities, robots))
    if (tracer.enabled) afterInit = tableBytesFiles(c)
    val st = span("frontier.run")(Frontier.run(spark, c, fetcher, rounds, budgets, robots, priorities))
    val wall = secondsSince(t0)
    Pass(wall, st.logRows, roundWalls(c), du(c.rootDir)._1)
  }

  /** Round walls: gaps between consecutive round-marker commit times. */
  private def roundWalls(c: Frontier.Config): Seq[Double] = {
    val t = (-1 until rounds).map { r =>
      Files.getLastModifiedTime(Paths.get(c.rootDir, "markers", s"round-$r"))
        .to(java.util.concurrent.TimeUnit.MICROSECONDS)
    }
    t.zip(t.drop(1)).map { case (a, b) => (b - a) / 1e6 }
  }

  /** Bytes and files of the frontier's snapshot tables (all but the markers). */
  private def tableBytesFiles(c: Frontier.Config): (Long, Long) = {
    val (b, f) = du(c.rootDir)
    val (mb, mf) = du(s"${c.rootDir}/markers")
    (b - mb, f - mf)
  }

  private def markers(c: Frontier.Config) =
    (0 until rounds).map(r => Frontier.markerCounters(spark, c, r))

  def outputs(i: Int, scratch: String): Seq[(String, String)] = {
    val c = config(i, scratch)
    val ms = markers(c)
    val log = Frontier.fetchLog(spark, c).collect()
    Seq(
      "urls" -> log.length.toString,
      "candidates" -> ms.map(_.getOrElse("candidates", 0L)).sum.toString,
      "seen" -> Frontier.seenKeys(spark, c).count().toString,
      "log_hash" -> digest(log.iterator.map(r => s"${r.get(0)}\t${r.get(1)}\t${r.get(2)}")))
  }

  override def counters(i: Int, scratch: String): Map[String, Double] = {
    val c = config(i, scratch)
    val ms = markers(c)
    val barrier = ms.filter(_.contains("candidates"))
    val (bytes, files) = tableBytesFiles(c)
    Map(
      "rounds" -> rounds.toDouble,
      "selected" -> ms.map(_.getOrElse("selected", 0L)).sum.toDouble,
      "barrier_new_urls" -> barrier.map(_.getOrElse("new_urls", 0L)).sum.toDouble,
      "barrier_candidates" -> barrier.map(_("candidates")).sum.toDouble,
      "run_files" -> (files - afterInit._2).toDouble,
      "run_bytes" -> (bytes - afterInit._1).toDouble)
  }
}

/** The reference workflow's graph steps, each written to parquet and read
  * back by the next, as the reference's shell pipeline does.
  */
final class GraphBuild(ctx: Ctx) extends Workload {
  import ctx._
  private val (nDocs, nHosts) = if (toy) (400L, 40) else (20000L, 2000)
  private val prIterations = 3
  val opsPerPass = 7
  def sizes: Seq[(String, Long)] = Seq("docs" -> nDocs, "hosts" -> nHosts.toLong,
    "pagerank_iterations" -> prIterations.toLong)
  private var docs: DataFrame = _

  def setup(d: String): Unit =
    SynthDocs.docs(spark, nDocs, nHosts, dataSeed, partitions = k).write.parquet(s"$d/docs")

  def open(d: String): Unit = docs = spark.read.parquet(s"$d/docs")

  def pass(i: Int, scratch: String): Pass = {
    val out = s"$scratch/pass-$i"
    def wr(df: DataFrame, step: String) = writeRead(spark, df, s"$out/$step")
    val step = new Steps(tracer)
    val t0 = System.nanoTime()
    val links = step("functions.extract")(wr(HostGraph.hostLinks(docs), "links"))
    val (v, e) = step("hostgraph.build") {
      val (v0, e0) = HostGraph.build(links)
      (wr(v0, "vertices"), wr(e0, "edges"))
    }
    step("domaingraph.fold") {
      val r = DomainGraph.fold(v, e)
      wr(r.vertices, "domain_vertices")
      wr(r.edges, "domain_edges")
    }
    val hc = step("harmonic.hyperball")(wr(HarmonicCentrality.hyperball(v, e), "harmonic"))
    val pr = step("pagerank.run")(wr(PageRank.run(v, e, maxIter = prIterations), "pagerank"))
    step("ranking.join_ranks")(wr(Ranking.joinRanks(v, hc.join(pr, "id")), "ranks"))
    step("wcc.weak")(wr(ConnectedComponents.weak(v, e), "wcc"))
    Pass(secondsSince(t0), nDocs, step.walls.toSeq, du(out)._1)
  }

  def outputs(i: Int, scratch: String): Seq[(String, String)] = {
    def t(step: String) = spark.read.parquet(s"$scratch/pass-$i/$step")
    val ranks = t("ranks").orderBy("hc_rank").collect()
    Seq(
      "vertices" -> t("vertices").count().toString,
      "edges" -> t("edges").count().toString,
      "domain_vertices" -> t("domain_vertices").count().toString,
      "domain_edges" -> t("domain_edges").count().toString,
      "components" -> t("wcc").select("component").distinct().count().toString,
      "ranks_hash" -> digest(ranks.iterator.map(r =>
        f"${r.getAs[Long]("hc_rank")}\t${r.getAs[String]("rev_name")}\t" +
          f"${r.getAs[Float]("hc_val")}%.4f\t${r.getAs[Double]("pr_val")}%.6e")))
  }
}
