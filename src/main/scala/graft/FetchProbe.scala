package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.frontier.AdjacencyFetcher

/** Bench-scale evidence for the clustered-fetch pruning (VERDICT r5 item 1)
  * on the SAME 96M-doc link table the scaling protocol scans: a
  * politeness-shaped budget-bounded batch (k smallest keys from each of H
  * deterministically chosen hosts — the shape every crawl round selects) is
  * fetched through the range-clustered layout with the interval predicate
  * pushed, vs the same table unpruned. Reports wall, the scan node's
  * emitted rows (row-group/page skipping shows here; `bytesRead` is not
  * populated for parquet in this build) and scan time, medians over
  * `SPARK_GRAFT_PROBE_SAMPLES` runs; asserts both paths return identical
  * row counts.
  *
  * `SPARK_GRAFT_SCALE_INPUT` must point at a prepared ScalingBench input
  * dir carrying `pairs_radj`. Knobs: SPARK_GRAFT_PROBE_HOSTS (default 200),
  * SPARK_GRAFT_PROBE_PER_HOST (10), SPARK_GRAFT_PROBE_SAMPLES (3).
  */
object FetchProbe {

  /** Sum of FileSourceScanExec (numOutputRows, scanTime ms) in the final
    * adaptive plan, recursing through materialized query stages
    * ([[PlanScan]] — the one shared walker).
    */
  def scanMetrics(df: DataFrame): (Long, Long) = {
    var rows = 0L
    var ms = 0L
    PlanScan.foreachFileScan(df.queryExecution.executedPlan) { f =>
      rows += f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      ms += f.metrics.get("scanTime").map(_.value).getOrElse(0L)
    }
    (rows, ms)
  }

  final case class Run(wall: Double, rows: Long, scanRows: Long, scanMs: Long)

  private def timeFetch(f: AdjacencyFetcher, batch: DataFrame, n: Long): Run = {
    val t0 = System.nanoTime()
    val out = f.fetch(batch, n)
    // collect (small: batch × fan-out rows), NOT count — count() executes a
    // separate aggregated plan, leaving `out`'s own scan metrics empty
    val rows = out.collect().length.toLong
    val wall = (System.nanoTime() - t0) / 1e9
    val (sr, sm) = scanMetrics(out)
    Run(wall, rows, sr, sm)
  }

  def main(args: Array[String]): Unit = {
    // the emitted JSON/record lines are a parsing contract: pin number
    // formatting to ROOT so a comma-decimal default locale cannot corrupt
    // them (f"..%.2f" formats with the JVM default)
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val in = sys.env.getOrElse("SPARK_GRAFT_SCALE_INPUT",
      sys.error("set SPARK_GRAFT_SCALE_INPUT to a prepared ScalingBench dir"))
    // sweep of touched-host-cluster counts: inside the pruning guard the
    // interval pushdown must WIN; beyond maxPredicateBuckets the guard must
    // fall back to the plain scan (measured: a 200-interval OR at this
    // table size is 10× SLOWER than scanning — the guard exists for that)
    val hostCounts = sys.env.getOrElse("SPARK_GRAFT_PROBE_HOSTS", "10,50,200")
      .split(",").map(_.trim.toInt).toSeq
    val perHost = sys.env.getOrElse("SPARK_GRAFT_PROBE_PER_HOST", "10").toInt
    val samples = sys.env.getOrElse("SPARK_GRAFT_PROBE_SAMPLES", "3").toInt
    val spark: SparkSession = Graft.session(
      master = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      shufflePartitions = 64, appName = "graft-fetch-probe")
    spark.sparkContext.setLogLevel("WARN")
    try {
      // the same codec-suffixed layout dir ScalingBench prepares and times
      // (SPARK_GRAFT_ADJ_CODEC) — a probe of a different arm than the
      // committed record would mislabel the evidence
      val path = s"$in/pairs_radj${ScalingBench.codecSuffix}"
      val adj = spark.read.parquet(path)
      val clustered = AdjacencyFetcher.openClustered(spark, path, ScalingBench.clustering)
      val plain = new AdjacencyFetcher(spark.read.parquet(path))
      hostCounts.foreach { hosts =>
        // the politeness-batch shape: the crawl selects (priority desc, url)
        // top-k per host; with host-level priorities that is k contiguous
        // keys per host in SURT order — model it as k smallest per chosen host
        val withHost = adj.select(col("key"),
          substring_index(col("key"), ")", 1).as("host"))
        val chosen = withHost.select("host").distinct()
          .orderBy(xxhash64(col("host")), col("host")).limit(hosts)
        val w = Window.partitionBy("host").orderBy("key")
        val batch = withHost.join(broadcast(chosen), Seq("host"))
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= perHost)
          .select("key")
        val batchRdd = batch.rdd
        batchRdd.localCheckpoint()
        val sel = spark.createDataFrame(batchRdd, batch.schema)
        val nKeys = batchRdd.count()

        // warm both paths once, then alternate timed samples
        timeFetch(plain, sel, nKeys); timeFetch(clustered, sel, nKeys)
        val runs = (1 to samples).map { _ =>
          (timeFetch(plain, sel, nKeys), timeFetch(clustered, sel, nKeys))
        }
        require(runs.forall { case (a, b) => a.rows == b.rows },
          s"pruned fetch changed row counts: ${runs.map(p => (p._1.rows, p._2.rows))}")
        def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
        def medL(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)
        val (fw, pw) = (med(runs.map(_._1.wall)), med(runs.map(_._2.wall)))
        val (fr, pr) = (medL(runs.map(_._1.scanRows)), medL(runs.map(_._2.scanRows)))
        val (fm, pm) = (medL(runs.map(_._1.scanMs)), medL(runs.map(_._2.scanMs)))
        println(
          f"""{"metric":"fetch_probe","input":"$path","hosts":$hosts,"per_host":$perHost,"batch_keys":$nKeys,"out_rows":${runs.head._1.rows},"samples":$samples,"full_wall_sec":$fw%.2f,"pruned_wall_sec":$pw%.2f,"full_scan_rows":$fr,"pruned_scan_rows":$pr,"full_scan_ms":$fm,"pruned_scan_ms":$pm,"scan_rows_ratio":${fr.toDouble / math.max(1L, pr)}%.1f,"wall_speedup":${fw / pw}%.2f}""")
        batchRdd.unpersist(blocking = false)
      }
    } finally spark.stop()
  }
}
