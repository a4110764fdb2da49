package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Guide §1 measurement harness (separate from the FROZEN graft.Bench):
  * times a named subset of the driver queries under the same session config
  * as Bench, and reports per query the wall time plus the number of Spark
  * jobs / stages / tasks the query ran — the direct evidence for
  * "fixed scheduling overhead dominates at sf0.1" and for before/after
  * job-count comparisons in OPTIMIZATION_r07.md. `compiles` counts the
  * generated classes the query compiled (Spark's JVM-wide `CodegenMetrics`).
  * Like Bench, this session keeps Spark's 100-entry codegen cache, so the
  * count splits a query's fixed cost between job scheduling and
  * recompilation.
  *
  * `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` as in Bench;
  * `sbt "runMain graft.BenchExtra q_scc q_frontier_log"` (default: the
  * heavy set); repeat count via SPARK_GRAFT_BENCHX_REPEATS (default 1).
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCHX_REPEATS", "1").toInt
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q_frontier_log", "q_frontier_adj", "q_frontier_delay", "q_scc",
      "q_merged_ids", "q_simhash", "q_clean_corpus", "q_dup_groups",
      "q_minhash", "q_minhash_hashed", "q_cc_sizes", "q_harmonic",
      "q_pagerank_pref", "q_hyperball", "q_components", "q_lsh_ann")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new java.util.concurrent.atomic.LongAdder
    val stages = new java.util.concurrent.atomic.LongAdder
    val tasks = new java.util.concurrent.atomic.LongAdder
    val jobLog = sys.env.contains("SPARK_GRAFT_BENCHX_JOBLOG")
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.add(1)
        if (jobLog) {
          val d = Option(j.properties)
            .map(_.getProperty("spark.job.description", "")).getOrElse("")
          val cs = Option(j.properties)
            .map(_.getProperty("callSite.short", "")).getOrElse("")
          jobStarts.put(j.jobId, (System.nanoTime(), s"$cs | $d"))
        }
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (jobLog) Option(jobStarts.remove(e.jobId)).foreach { case (t0, desc) =>
          System.err.println(
            f"[benchx-job] ${e.jobId}%4d ${(System.nanoTime() - t0) / 1e6}%7.0fms $desc")
        }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = stages.add(1)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.add(1)
    })

    spark.range(100000).selectExpr("sum(id * 3 % 7)").collect()
    Thread.sleep(300) // let warmup listener events drain
    val out = new StringBuilder("{")
    var first = true
    for (name <- names; r <- 1 to repeats) {
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          jobs.reset(); stages.reset(); tasks.reset()
          spark.sparkContext.setJobDescription(s"benchx:$name")
          val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          val t0 = System.nanoTime()
          val n = try fn(spark, sfDir).count() catch { case _: Throwable => -1L }
          val wall = (System.nanoTime() - t0) / 1e9
          val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
          Thread.sleep(200) // listener drain
          val line = f""""$name%s":{"wall":$wall%.2f,"jobs":${jobs.sum()},"stages":${stages.sum()},"tasks":${tasks.sum()},"compiles":$compiles,"rows":$n}"""
          System.err.println(s"[benchx] $line")
          if (!first) out.append(",")
          out.append(line); first = false
        case None => System.err.println(s"[benchx] unknown query: $name")
      }
    }
    out.append("}")
    println(out.toString)
    spark.stop()
  }
}
