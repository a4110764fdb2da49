package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's required configuration.
  *
  * The engine is designed for a multi-executor cluster (AQE on, skew-join
  * handling on, zstd shuffle compression — mirroring the resilience confs the
  * reference sets for its Spark jobs, `build_hostgraph.sh:230-245`), but runs
  * identically on `local[N]` for tests and benchmarks.
  */
object Graft {

  /** Entries of Spark's generated-class cache (`spark.sql.codegen.cache.maxEntries`,
    * default 100). The cache is keyed by the generated source, so a plan
    * shape that a later crawl round or graph step replays skips Janino only
    * if its classes are still cached. One benchmark pass (20k docs, with
    * per-stage class names) compiled ~275 classes on the graph chain and
    * ~165 on the crawl, so at 100 entries every warm pass recompiled ~280
    * (graph) and ~300 (crawl). Warm graph-pass recompiles by cache size:
    * 100 → ~280, 200 → ~270, 400 → 8, 2048 or 5000 → 0. With one class name
    * (below), the toy chain then crawl of `CodegenReuseSpec` in one JVM
    * recompile 247 and 95 classes per warm pass at 100 entries, 208 and 0
    * at 200, and none from 400 up. 2048 leaves room for a driver that runs
    * both and more; peak RSS stayed within ±2%. It is a static conf: Spark
    * reads it once per JVM, when `CodeGenerator` initializes, so it holds
    * only if the JVM's first session is built here.
    */
  val CodegenCacheEntries = 2048

  /** Build (or reuse) a SparkSession configured for the engine.
    *
    * @param master    e.g. "local[32]"; empty string keeps whatever master the
    *                  environment provides (spark-submit)
    * @param shufflePartitions shuffle parallelism; on a real cluster use
    *                  executors*cores*2, locally the core count
    */
  def session(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
              shufflePartitions: Int = 32,
              appName: String = "graft",
              extraConfigs: Map[String, String] = Map.empty): SparkSession = {
    val b0 = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.parquet.compression.codec", "zstd")
      // Delay-scheduling locality waits trade seconds of idle cores for
      // network avoidance — the wrong trade on fast-network/NVMe clusters
      // and pure loss on a single box: tasks stall up to 3s×waves waiting
      // for a PROCESS_LOCAL slot on whichever executor holds a cached
      // block. 0 keeps every core busy; shuffle files are served by the
      // external/worker block manager either way.
      .config("spark.locality.wait", "0s")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // Whole-stage classes are named after their codegen stage id by
      // default. Under AQE a pipeline's id can change from pass to pass
      // (two exchanges planned concurrently swap ids), and the renamed
      // class misses the cache. One class name keys the cache on the
      // generated code alone.
      .config("spark.sql.codegen.useIdInClassName", "false")
    val b = extraConfigs.foldLeft(b0) { case (bb, (k, v)) => bb.config(k, v) }
    val withMaster = if (master.nonEmpty) b.master(master) else b
    val spark = withMaster.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
