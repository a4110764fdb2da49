package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.frontier.{Frontier, CorpusFetcher, UrlSeen}
import graft.functions.gf
import graft.sources.SynthDocs

/** The north_rule scaling criterion, evidenced in-sandbox with SEPARATE
  * EXECUTOR JVMs: the IDENTICAL frontier job on the IDENTICAL input at two
  * cluster sizes — `local-cluster[1,c,m]` (N = 1 executor × c cores) vs
  * `local-cluster[4,c,m]` (4N = 4 executor JVMs × c cores, each its own
  * heap), with `c = SPARK_GRAFT_SCALE_CORES_PER_EXEC` (4 = the committed
  * headline shape fixed in round 2; 1 = the amortized-regime support).
  * This is the truest in-sandbox model of the reference's multi-executor
  * deployment (`hostgraph_config.sh:84-85` scales executor COUNT, not
  * threads-per-heap): no real cluster exists here, but local-cluster mode
  * exercises the standalone Master/Worker, cross-process shuffle, broadcast
  * and task serialization exactly like a real one. Round 1 measured the
  * ratio inside ONE shared-heap JVM (local[8] vs local[32]) and hit the
  * memory-bus/GC ceiling of a single 32-thread heap (efficiency 0.28–0.45;
  * VERDICT.md r1 "Next round" item 1 prescribes this protocol change).
  *
  * Input tables (docs corpus, link pairs, host priorities, politeness
  * budgets, seeds) are materialized ONCE as parquet by an untimed setup
  * session and scanned from disk by both cluster sizes — the 100 TB shape
  * (the corpus is an on-disk table like the north_rule's Iceberg input,
  * never an executor-cached DataFrame that one heap must hold).
  *
  * Reports throughput at both sizes plus scaling efficiency
  * `thr_4N / (4 · thr_N)` (target ≥ 0.8) over SPARK_GRAFT_SCALE_SAMPLES
  * independent sample pairs (full record in BENCH/BASELINE.md, median
  * efficiency is the headline).
  *
  * Requires SPARK_HOME=/opt/spark and SPARK_SCALA_VERSION=2.13 in the env
  * (set by build.sbt `run / envVars`) so the standalone Worker can launch
  * executor JVMs.
  *
  * `sbt "runMain graft.ScalingBench"` — prints one JSON line and rewrites
  * BENCH/BASELINE.md. Determinism of the workload itself is pinned by
  * FrontierSpec (results are independent of parallelism); this main
  * additionally asserts scheduled-URL count equality between cluster sizes.
  */
object ScalingBench {

  final case class RunResult(executors: Int, coresPerExec: Int, wallSec: Double,
                             urls: Long, urlsPerSec: Double,
                             candidates: Long, candPerSec: Double) {
    def cores: Int = executors * coresPerExec
  }

  /** Paths of the pre-materialized input tables (shared by both sizes).
    * `warmPairs` is a small independent corpus' link table used only for the
    * untimed warmup rounds — same plan shapes (so JIT/codegen/shuffle paths
    * warm fully) without paying full corpus scans outside the timed window.
    * `pairsAdj`/`warmPairsAdj` are the same link tables in ADJACENCY layout
    * `(key, outlinks array)` — the layout the timed runs scan (VERDICT r3
    * item 1a: the per-round corpus pass decodes each source key once, not
    * once per link).
    */
  final case class Prepared(docs: String, pairs: String, priorities: String,
                            budgets: String, seeds: String, warmPairs: String) {
    def pairsAdj: String = pairs + "_adj"
    def warmPairsAdj: String = warmPairs + "_adj"
    /** KEY-CLUSTERED adjacency layout (VERDICT r5 item 1) — the layout the
      * timed runs scan: RANGE-partitioned, globally key-sorted, 16 MB row
      * groups, written by `AdjacencyFetcher.writeClustered` (SURT keys
      * keep each host's rows contiguous, so budget-bounded batches push
      * narrow per-interval predicates).
      */
    def pairsCAdj: String = pairs + "_radj" + codecSuffix
    def warmPairsCAdj: String = warmPairs + "_radj" + codecSuffix
  }

  /** Parquet codec for the clustered link tables (`SPARK_GRAFT_ADJ_CODEC`,
    * default zstd — Spark 4's session default, what every committed record
    * measures). Non-default codecs get their own layout dirs so A/B runs
    * over one prepared input coexist; the timed scan is the decode path,
    * so the codec is part of the measured layout, not a write detail.
    */
  val adjCodec: String = sys.env.getOrElse("SPARK_GRAFT_ADJ_CODEC", "zstd")
  def codecSuffix: String = if (adjCodec == "zstd") "" else "_" + adjCodec

  /** The clustering the bench's link tables are written AND opened with:
    * 64 range partitions. Opening reads only the pruning thresholds from
    * it; the pushed key intervals never reference the partition count.
    */
  val clustering: graft.frontier.AdjacencyFetcher.Clustering =
    graft.frontier.AdjacencyFetcher.Clustering(buckets = 64)

  /** A Hadoop conf carrying the session-independent spark.hadoop.* settings
    * (what SparkHadoopUtil appends for a real session) — lets the layout
    * probes run WITHOUT paying a full SparkSession start when every table
    * already exists (ADVICE r5).
    */
  private def probeConf(): org.apache.hadoop.conf.Configuration =
    // a live session's conf carries EVERY channel's spark.hadoop.* settings
    // (builder extraConfigs included — credentials for non-local URIs, the
    // r5-flagged case); the system-properties fallback only sees -D flags,
    // which is all a cold bench JVM has anyway
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse {
        val hc = new org.apache.hadoop.conf.Configuration()
        new org.apache.spark.SparkConf(true).getAll.foreach { case (k, v) =>
          if (k.startsWith("spark.hadoop.")) hc.set(k.stripPrefix("spark.hadoop."), v)
        }
        hc
      }

  /** Materialize the adjacency-layout link tables beside existing flat ones
    * (idempotent; lets a pre-round-4 prepared input dir be reused; a
    * pre-round-6 dir gains the clustered layout, derived from the grouped
    * one so dirs whose flat `pairs` was deleted to save disk still work).
    * Probes use a session-free Hadoop conf (non-local URIs keep their
    * spark.hadoop.* credentials, ADVICE r4/r5); the conversion session is
    * only created when a table is actually missing.
    */
  def ensureAdjacency(in: Prepared): Unit = {
    import graft.frontier.AdjacencyFetcher
    import org.apache.hadoop.fs.Path
    val hc = probeConf()
    def missing(p: String) = {
      val path = new Path(p, "_SUCCESS")
      !path.getFileSystem(hc).exists(path)
    }
    val needed = Seq(in.pairsAdj, in.warmPairsAdj, in.pairsCAdj, in.warmPairsCAdj)
      .exists(missing)
    if (!needed) return
    val spark = Graft.session(master = "local[32]", shufflePartitions = 64,
      appName = "graft-scaling-adj-convert")
    try {
      if (missing(in.pairsAdj))
        AdjacencyFetcher.groupPairs(spark.read.parquet(in.pairs))
          .write.mode("overwrite").parquet(in.pairsAdj)
      if (missing(in.warmPairsAdj))
        AdjacencyFetcher.groupPairs(spark.read.parquet(in.warmPairs))
          .write.mode("overwrite").parquet(in.warmPairsAdj)
      if (missing(in.pairsCAdj))
        AdjacencyFetcher.writeClustered(spark.read.parquet(in.pairsAdj),
          in.pairsCAdj, clustering, codec = adjCodec)
      if (missing(in.warmPairsCAdj))
        AdjacencyFetcher.writeClustered(spark.read.parquet(in.warmPairsAdj),
          in.warmPairsCAdj, clustering, codec = adjCodec)
    } finally spark.stop()
  }

  /** A session on a local-cluster of `executors` separate executor JVMs. */
  def clusterSession(executors: Int, coresPerExec: Int, memMb: Int,
                     appName: String): SparkSession = {
    require(sys.env.get("SPARK_HOME").exists(h => new java.io.File(h).isDirectory),
      s"local-cluster mode needs SPARK_HOME pointing at a Spark distro " +
      s"(got ${sys.env.getOrElse("SPARK_HOME", "<unset>")}; build.sbt " +
      "run/envVars defaults it from the caller's environment)")
    val classesDir = new java.io.File("target/scala-2.13/classes").getAbsolutePath
    // shuffle-partition tuning knob (VERDICT r3 item 1a): default 2/core;
    // AQE coalesces down, so a higher floor only bounds max partition size
    val perCore = sys.env.getOrElse("SPARK_GRAFT_SCALE_SHUFFLE_PER_CORE", "2").toInt
    Graft.session(
      master = s"local-cluster[$executors,$coresPerExec,$memMb]",
      shufflePartitions = executors * coresPerExec * perCore,
      appName = appName,
      extraConfigs = Map(
        "spark.executor.extraClassPath" -> classesDir,
        // local-cluster's third arg is only the WORKER's capacity; the
        // executor JVM heap itself is spark.executor.memory (default 1g)
        "spark.executor.memory" -> s"${memMb}m",
        // RESOURCE ISOLATION: every executor JVM must behave like a node
        // with `coresPerExec` cores. Without this each JVM sizes its G1
        // GC/JIT helper pools from the HOST's 32 CPUs — so the 1-executor
        // run silently borrows ~2 dozen idle cores for GC/JIT (a free
        // speedup no real 1-node cluster gets) while the 4-executor run's
        // helper threads contend, deflating the measured N-vs-4N ratio
        // below the engine's true scaling.
        "spark.executor.extraJavaOptions" ->
          s"-XX:ActiveProcessorCount=$coresPerExec",
        // split the corpus scan finer than the 128m default: ~4 task waves
        // per stage instead of ~1 so one slow split can't stretch the stage
        // (AQE re-coalesces the shuffle side; this only affects file scans)
        "spark.sql.files.maxPartitionBytes" -> "33554432",
        // experiment knob: SPARK_GRAFT_SCALE_AQE=0 disables adaptive
        // execution for the frontier bench — each AQE query-stage
        // materializes as its own scheduled job, and the frontier round's
        // many small fixed-shape queries pay that scheduling latency as a
        // per-round floor (GRAFT_JOBLOG shows ~20+ stage jobs/round)
        "spark.sql.adaptive.enabled" ->
          (if (sys.env.get("SPARK_GRAFT_SCALE_AQE").contains("0")) "false" else "true")))
  }

  /** Untimed setup: synthesize and write all input tables once (local[32] —
    * setup speed is not part of the measurement).
    */
  def prepare(nDocs: Long, nHosts: Int, seeds: Int, tokens: Int): Prepared = {
    val base = Files.createTempDirectory("graft_scale_input").toString
    val p = Prepared(s"$base/docs", s"$base/pairs", s"$base/priorities",
      s"$base/budgets", s"$base/seeds", s"$base/warm_pairs")
    val spark = Graft.session(master = "local[32]", shufflePartitions = 32,
      appName = "graft-scaling-setup")
    try {
      val docs = SynthDocs.docs(spark, nDocs, nHosts, partitions = 128).toDF()
      docs.write.parquet(p.docs)
      val docsT = spark.read.parquet(p.docs)
      CorpusFetcher.pairsOf(docsT).write.parquet(p.pairs)
      Frontier.hostPriorities(docsT, exactThreshold = 500).write.parquet(p.priorities)
      SynthDocs.politeness(spark, nHosts)
        .select(gf.reverse_host(col("host")).as("rev_host"),
          (col("tokens_per_round") * tokens).as("tokens_per_round"))
        .write.parquet(p.budgets)
      SynthDocs.seeds(spark, seeds, nHosts).write.parquet(p.seeds)
      val warmDocs = SynthDocs.docs(spark, math.min(nDocs, 1000000L), nHosts,
        partitions = 32).toDF()
      CorpusFetcher.pairsOf(warmDocs).write.parquet(p.warmPairs)
      import graft.frontier.AdjacencyFetcher
      AdjacencyFetcher.groupPairs(spark.read.parquet(p.pairs))
        .write.parquet(p.pairsAdj)
      AdjacencyFetcher.groupPairs(spark.read.parquet(p.warmPairs))
        .write.parquet(p.warmPairsAdj)
      AdjacencyFetcher.writeClustered(spark.read.parquet(p.pairsAdj),
        p.pairsCAdj, clustering, codec = adjCodec)
      AdjacencyFetcher.writeClustered(spark.read.parquet(p.warmPairsAdj),
        p.warmPairsCAdj, clustering, codec = adjCodec)
    } finally spark.stop()
    p
  }

  def runOnce(executors: Int, coresPerExec: Int, memMb: Int,
              in: Prepared, rounds: Int, tokens: Int): RunResult = {
    val spark = clusterSession(executors, coresPerExec, memMb,
      appName = s"graft-scaling-${executors}x$coresPerExec")
    if (sys.env.contains("GRAFT_JOBLOG")) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val names = js.stageInfos.map(si => s"${si.name}(${si.numTasks})").mkString(" | ")
          starts.put(js.jobId, (js.time, names))
        }
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val (t0, names) = starts.getOrDefault(je.jobId, (je.time, "?"))
          val dur = (je.time - t0) / 1000.0
          if (dur > 0.3) System.err.println(f"[job] id=${je.jobId}%3d ${dur}%6.2fs $names")
        }
        override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val m = si.taskMetrics
          val dur = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1000.0
          if (dur > 1.0) System.err.println(
            f"[stage] id=${si.stageId}%3d ${dur}%6.2fs tasks=${si.numTasks}%3d " +
            f"in=${m.inputMetrics.bytesRead / 1e6}%.0fMB rec=${m.inputMetrics.recordsRead} " +
            f"sw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%.0fMB sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%.0fMB " +
            f"cpu=${m.executorRunTime / 1000.0}%.1fs gc=${m.jvmGCTime / 1000.0}%.1fs ${si.name.take(70)}")
        }
      })
    }
    val cores = executors * coresPerExec
    try {
      val dir = Files.createTempDirectory(s"graft_scale_$cores").toString
      val c = Frontier.Config(dir, defaultTokens = tokens, saltBuckets = 16,
        seenCfg = UrlSeen.Config(buckets = 32, bitsPerBucket = 1 << 20, numHashes = 7))
      val fetcher = graft.frontier.AdjacencyFetcher
        .openClustered(spark, in.pairsCAdj, clustering)
      val priorities = spark.read.parquet(in.priorities)
      val budgets = spark.read.parquet(in.budgets)
      val robots = spark.emptyDataFrame
        .selectExpr("'' as rev_host", "array('') as disallow_prefixes").limit(0)
        .localCheckpoint()
      val seedDf = spark.read.parquet(in.seeds)

      // untimed warmup rounds on a scratch dir over the SMALL warm corpus:
      // identical plan shapes, so JIT/codegen/shuffle machinery is fully
      // warm before the measured window without paying full corpus scans
      // (standard JVM bench hygiene; both cluster sizes get the same
      // treatment)
      val warmFetcher = graft.frontier.AdjacencyFetcher
        .openClustered(spark, in.warmPairsCAdj, clustering)
      val warmDir = Files.createTempDirectory(s"graft_warm_$cores").toString
      val wc = c.copy(rootDir = warmDir)
      Frontier.init(spark, wc, seedDf.limit(20000), priorities, robots)
      Frontier.run(spark, wc, warmFetcher, 2, budgets, robots, priorities)

      val t0 = System.nanoTime()
      Frontier.init(spark, c, seedDf, priorities, robots)
      val st = Frontier.run(spark, c, fetcher, rounds, budgets, robots, priorities)
      val wall = (System.nanoTime() - t0) / 1e9
      // frontier-dedup throughput: candidate outlinks pushed through the
      // seen-set per second (BASELINE.md metric table), from round markers
      val cand = (0 until rounds)
        .map(r => Frontier.markerCounters(spark, c, r).getOrElse("candidates", 0L)).sum
      RunResult(executors, coresPerExec, wall, st.logRows, st.logRows / wall,
        cand, cand / wall)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    // the emitted JSON/record lines are a parsing contract: pin number
    // formatting to ROOT so a comma-decimal default locale cannot corrupt
    // them (f"..%.2f" formats with the JVM default)
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_SCALE_DOCS", "8000000").toLong
    val nHosts = sys.env.getOrElse("SPARK_GRAFT_SCALE_HOSTS", "20000").toInt
    val rounds = sys.env.getOrElse("SPARK_GRAFT_SCALE_ROUNDS", "3").toInt
    val seeds = sys.env.getOrElse("SPARK_GRAFT_SCALE_SEEDS", "250000").toInt
    val tokens = sys.env.getOrElse("SPARK_GRAFT_SCALE_TOKENS", "16").toInt
    // default matches the committed protocol (≥5 sample pairs, median
    // efficiency headline — ADVICE r4): a bare run produces a compliant record
    val samples = sys.env.getOrElse("SPARK_GRAFT_SCALE_SAMPLES", "5").toInt
    val memMb = sys.env.getOrElse("SPARK_GRAFT_SCALE_EXEC_MB", "12288").toInt
    val cpe = sys.env.getOrElse("SPARK_GRAFT_SCALE_CORES_PER_EXEC", "4").toInt

    // reuse an already-prepared input dir across invocations (iteration aid;
    // the tables are pure functions of (nDocs, nHosts, seeds, tokens))
    val in = sys.env.get("SPARK_GRAFT_SCALE_INPUT") match {
      case Some(base) => Prepared(s"$base/docs", s"$base/pairs",
        s"$base/priorities", s"$base/budgets", s"$base/seeds", s"$base/warm_pairs")
      case None => prepare(nDocs, nHosts, seeds, tokens)
    }
    // reused pre-round-4 input dirs carry only the flat pairs layout —
    // derive the adjacency tables once (idempotent, untimed)
    ensureAdjacency(in)
    if (sys.env.contains("SPARK_GRAFT_SCALE_PREPARE_ONLY")) {
      println(s"""{"prepared":"${in.docs.stripSuffix("/docs")}"}""")
      return
    }
    val pairs = (1 to samples).map { i =>
      val lo = runOnce(1, cpe, memMb, in, rounds, tokens)
      val hi = runOnce(4, cpe, memMb, in, rounds, tokens)
      require(lo.urls == hi.urls && lo.candidates == hi.candidates,
        s"determinism violation: 1x$cpe scheduled ${lo.urls} URLs/${lo.candidates} cand, " +
        s"4x$cpe ${hi.urls}/${hi.candidates}")
      val eff = hi.urlsPerSec / (4.0 * lo.urlsPerSec)
      System.err.println(f"[scaling] sample $i: lo=${lo.wallSec}%.1fs hi=${hi.wallSec}%.1fs eff=$eff%.3f")
      (lo, hi, eff)
    }
    val sorted = pairs.sortBy(_._3)
    val (mlo, mhi, meff) = sorted(sorted.size / 2) // median-efficiency sample
    // the metric NAME carries the protocol shape: re-running a shape must
    // reproduce the exact metric name the committed multi-record file uses
    // (and graft.Bench greps for) — not relabel a different shape's record
    // as the committed one. COMMITTED criterion since r7 (VERDICT r6 task
    // 1): the convergence-window protocol — >=192M docs, 1-core executor
    // JVMs, window >> per-round floor, the honest proxy for the 100 TB
    // regime — carries the bare headline name graft.Bench surfaces as
    // `scaling_efficiency`. The fixed-96M shapes keep their own names:
    // `_1core` (supporting: amortized regime at the smaller window) and
    // `_<docs>m_<cpe>core` (the pre-r7 committed 4-core shape, retained as
    // a scan-bandwidth regression canary — BENCH/BASELINE.md §1).
    val metric =
      if (cpe == 1 && nDocs >= 192000000L) "urls_scheduled_per_sec"
      else if (cpe == 1) "urls_scheduled_per_sec_1core"
      else s"urls_scheduled_per_sec_${nDocs / 1000000}m_${cpe}core"
    val json =
      f"""{"metric":"$metric","value":${mhi.urlsPerSec}%.2f,"unit":"urls/sec","protocol":"local-cluster 1x$cpe vs 4x$cpe executor JVMs","executors_lo":1,"executors_hi":4,"cores_per_executor":$cpe,"urls":${mhi.urls},"wall_lo_sec":${mlo.wallSec}%.2f,"wall_hi_sec":${mhi.wallSec}%.2f,"thr_lo":${mlo.urlsPerSec}%.2f,"thr_hi":${mhi.urlsPerSec}%.2f,"candidates":${mhi.candidates},"frontier_dedup_per_sec":${mhi.candPerSec}%.2f,"dedup_thr_lo":${mlo.candPerSec}%.2f,"scaling_efficiency":$meff%.3f,"samples":$samples,"eff_all":[${pairs.map(p => f"${p._3}%.3f").mkString(",")}],"docs":$nDocs,"rounds":$rounds,"adj_codec":"$adjCodec"}"""
    println(json)
    // rows after the first sit on their own stripMargin lines — double the
    // leading pipe so one survives
    val sampleRows = pairs.zipWithIndex.map { case ((lo, hi, eff), i) =>
      f"| ${i + 1} | ${lo.wallSec}%.1f | ${lo.urlsPerSec}%.1f | ${lo.candPerSec}%.1f | ${hi.wallSec}%.1f | ${hi.urlsPerSec}%.1f | ${hi.candPerSec}%.1f | $eff%.3f |"
    }.mkString("\n|")
    val md =
      f"""# BENCH — frontier scaling (N vs 4N executors, separate JVMs)
         |
         |Protocol (BASELINE.md; VERDICT.md r1 item 1): identical frontier job,
         |identical input ($nDocs synthetic interleaved docs, $nHosts hosts,
         |$rounds rounds, $seeds seeds — materialized once as parquet and
         |scanned from disk by both sizes), run on `local-cluster[1,$cpe,$memMb]`
         |(N = 1 executor JVM × $cpe cores) vs `local-cluster[4,$cpe,$memMb]`
         |(4N = 4 executor JVMs × $cpe cores each) on a 32-core box — the
         |standalone Master/Worker launch real separate executor processes, so
         |shuffle/broadcast/task-dispatch cross process boundaries exactly as
         |on a multi-node cluster, and no single shared heap caps the 32-core
         |run (round 1's local[8]-vs-local[32] single-JVM protocol measured the
         |memory-bus/GC ceiling of one heap, eff 0.28–0.45, not the engine).
         |
         |Determinism asserted per sample: both cluster sizes schedule the same
         |${mhi.urls} URLs and push the same ${mhi.candidates} candidate
         |outlinks through the seen-set (FrontierSpec pins full order equality vs a
         |sequential oracle; this run asserts count equality).
         |
         |$samples independent sample pairs (alternating N, 4N):
         |
         || sample | wall N (s) | urls/s N | dedup/s N | wall 4N (s) | urls/s 4N | dedup/s 4N | efficiency |
         ||---|---|---|---|---|---|---|---|
         |$sampleRows
         |
         |**median scaling_efficiency = thr_4N / (4 × thr_N) = $meff%.3f** (target ≥ 0.8)
         |
         |```json
         |$json
         |```
         |
         |Dedup/ANN-family corpus-scale throughput (minhashDedup, lshTopK over
         |1M docs / 200k vectors): see `BENCH/DEDUP.md` (graft.DedupBench);
         |the record is embedded in the Bench JSON as the `dedup` block.
         |""".stripMargin
    val out = java.nio.file.Paths.get("BENCH/BASELINE.md")
    // the committed file is MULTI-record (one JSON line per protocol shape,
    // composed across rounds): a re-run of one shape replaces that shape's
    // record but must carry the other shapes' lines forward — they are the
    // evidence graft.Bench surfaces as eff_1core / eff_192m_1core (the
    // analysis prose around them is still hand-written; restore from git
    // if it matters)
    val carried =
      try java.nio.file.Files.readString(out).linesIterator.filter { l =>
        l.startsWith("{\"metric\":\"urls_scheduled_per_sec") &&
          !l.startsWith("{\"metric\":\"" + metric + "\"")
      }.toSeq
      catch { case _: Throwable => Seq.empty }
    val carriedMd =
      if (carried.isEmpty) ""
      else "\n## Carried records (other protocol shapes, previous file)\n\n" +
        carried.map(l => "```json\n" + l + "\n```\n").mkString("\n")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, md + carriedMd)
  }
}
