package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Graft
import Workloads.{deleteTree, du, secondsSince}

/** One benchmark run: one workload, one seed, a measured window of fixed
  * length, with its outputs checked against recorded expected values.
  *
  * {{{
  * PerfBench --workload <crawl|graph_build> --seed <n>
  *           --seconds <s> --trace <0|1> --work <dir> --result <file>
  *           --expected <expected.tsv> [--toy]
  * PerfBench --workload <name> --work <dir> --record <file> [--toy]
  * PerfBench --train --work <dir>
  * }}}
  *
  * Inputs are generated from the seed: the seed selects one of [[Variants]]
  * input variants, so every seed has recorded expected outputs. A run sets
  * up the session, writes the inputs [[SetupReps]] times, runs
  * [[WarmPasses]] untimed passes over them, then timed passes until the
  * window ends, at least [[MinPasses]]. Every pass is checked. With
  * `--trace 1` the window alternates untraced and traced passes, and the
  * per-layer metrics come from the traced ones.
  *
  * The result line goes to `--result`; the run report (side fields such as
  * the CPU probe, input sizes, storage memory) and the spans go beside it.
  * Exit code 0: outputs correct; 1: a wrong output or a failed operation;
  * 2: the run could not start.
  *
  * `--record` writes the outputs of every input variant, the expected
  * values a run checks. `--train` runs one toy pass, so the build can
  * archive the classes a run loads (class-data sharing).
  */
object PerfBench {

  val Variants = 16
  val SetupReps = 3
  /** Untimed passes before the window: the first pass of a run is cold. */
  val WarmPasses = 1
  /** Timed passes in every window, however short, so that each metric is a
    * median over passes.
    */
  val MinPasses = 2

  final case class Opts(workload: String = "", seed: Long = 0L, seconds: Double = 10.0,
                        trace: Boolean = false, work: String = "", result: String = "",
                        expected: String = "", toy: Boolean = false,
                        record: Option[String] = None, train: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v match {
      case "0" => false
      case "1" => true
      case _ => throw new IllegalArgumentException(s"--trace takes 0 or 1, not $v")
    }))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--result" :: v :: t => parse(t, o.copy(result = v))
    case "--expected" :: v :: t => parse(t, o.copy(expected = v))
    case "--toy" :: t => parse(t, o.copy(toy = true))
    case "--record" :: v :: t => parse(t, o.copy(record = Some(v)))
    case "--train" :: t => parse(t, o.copy(train = true))
    case other => throw new IllegalArgumentException(s"unexpected argument: ${other.mkString(" ")}")
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Same-process pure-CPU probe: a hash-aggregate over `range` at the run's
    * thread count. It touches no engine code, so a shift in it is the host.
    */
  def cpuProbe(spark: SparkSession, k: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 20000000L, 1, 2 * k)
      .select(sum(pmod(xxhash64(col("id"), col("id") % 31), lit(1000L)))).collect()
    secondsSince(t0)
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used, all threads. */
  def processCpuS(): Double = osBean.getProcessCpuTime / 1e9

  /** Host CPU ticks from /proc/stat as (steal, total): the hypervisor's
    * stolen time is the host noise a run cannot control.
    */
  def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)

  /** (scale, workload, variant) -> expected output values. */
  def loadExpected(path: String): Map[(String, String, Int), Map[String, String]] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map { case Array(s, w, v, key, value) => ((s, w, v.toInt), key -> value) }
      .toSeq.groupBy(_._1).map { case (k, kvs) => k -> kvs.map(_._2).toMap }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val o = parse(args.toList)
    require(o.train || Workloads.names.contains(o.workload),
      s"--workload must be one of ${Workloads.names.mkString(", ")}")
    require(o.work.nonEmpty && (o.train || o.record.nonEmpty || o.result.nonEmpty && o.expected.nonEmpty),
      "--work and one of --train, --record, or --result with --expected are required")
    val expected =
      if (o.result.nonEmpty) loadExpected(o.expected)
      else Map.empty[(String, String, Int), Map[String, String]]
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // two task threads: the inputs are small, and on a shared 4-core host the
    // JIT and GC threads keep cores of their own, and a stage waits on fewer
    // tasks whose core the hypervisor may take away
    val k = math.min(2, Runtime.getRuntime.availableProcessors())
    val spark = Graft.session(master = s"local[$k]", shufflePartitions = k,
      appName = s"perfbench-${if (o.train) "train" else o.workload}",
      extraConfigs = Map("spark.local.dir" -> s"${o.work}/spark-local"))
    val code =
      try {
        if (o.train) { train(spark, k, o.work); 0 }
        else o.record match {
          case Some(out) => record(spark, k, o, out); 0
          case None => run(spark, k, o, expected, jvmStartMs)
        }
      } finally spark.stop()
    sys.exit(code)
  }

  /** One toy crawl pass: the build's class-loading training run, which loads
    * the session, parquet and SQL classes every run needs.
    */
  def train(spark: SparkSession, k: Int, work: String): Unit = {
    val wl = Workloads("crawl", new Ctx(spark, k, 0, toy = true, new Tracer(false)))
    wl.setup(s"$work/input")
    wl.open(s"$work/input")
    wl.pass(0, s"$work/scratch")
  }

  /** Write the outputs of one pass per input variant as expected values. */
  def record(spark: SparkSession, k: Int, o: Opts, out: String): Unit = {
    val scale = if (o.toy) "toy" else "full"
    val lines = (0 until Variants).flatMap { v =>
      val wl = Workloads(o.workload, new Ctx(spark, k, v, o.toy, new Tracer(false)))
      val in = s"${o.work}/record-input"
      deleteTree(in)
      wl.setup(in)
      wl.open(in)
      wl.pass(0, s"${o.work}/scratch")
      val kv = try wl.outputs(0, s"${o.work}/scratch") finally wl.cleanup(0, s"${o.work}/scratch")
      spark.catalog.clearCache()
      System.err.println(s"[perfbench] recorded ${o.workload} $scale variant $v")
      kv.map { case (key, value) => s"$scale\t${o.workload}\t$v\t$key\t$value" }
    }
    Files.write(Paths.get(out), (lines :+ "").mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  /** What a pass cost the host beside its wall: CPU seconds of this JVM and
    * the share of host CPU time the hypervisor stole meanwhile.
    */
  final case class PassCost(traced: Boolean, cpuS: Double, stealFrac: Double)

  def run(spark: SparkSession, k: Int, o: Opts,
          expected: Map[(String, String, Int), Map[String, String]], jvmStartMs: Long): Int = {
    val scale = if (o.toy) "toy" else "full"
    val variant = java.lang.Math.floorMod(o.seed, Variants.toLong).toInt
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = new Tracer(false)
    val wl = Workloads(o.workload, new Ctx(spark, k, variant, o.toy, tracer))
    val scratch = s"${o.work}/scratch"

    // the inputs are written SetupReps times; the median is the set-up cost
    val setupWalls = (0 until SetupReps).map { r =>
      val t = System.nanoTime()
      wl.setup(s"${o.work}/input-$r")
      val s = secondsSince(t)
      if (r > 0) deleteTree(s"${o.work}/input-${r - 1}")
      s
    }
    val inputDir = s"${o.work}/input-${SetupReps - 1}"
    wl.open(inputDir)

    val listener = new EngineListener
    val passes = ArrayBuffer.empty[(Pass, PassCost)]
    val counters = ArrayBuffer.empty[Map[String, Double]]
    val failures = ArrayBuffer.empty[String]
    val firstSeen = scala.collection.mutable.Map.empty[String, String]
    val want = expected.getOrElse((scale, o.workload, variant), Map.empty)
    if (want.isEmpty) failures += s"no expected outputs recorded for $scale ${o.workload} variant $variant"
    var attempted = 0L
    var failed = 0L
    var i = 0

    /** One pass and its correctness check; false when it threw. A traced
      * pass has the listeners attached and the spans on.
      */
    def checkedPass(traced: Boolean): Boolean = {
      if (traced) {
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(listener)
      }
      tracer.enabled = traced
      tracer.run = i
      attempted += wl.opsPerPass
      val ok =
        try {
          val c0 = processCpuS()
          val (st0, tot0) = cpuTicks()
          val p = tracer.span("pass")(wl.pass(i, scratch))
          val (st1, tot1) = cpuTicks()
          val cost = PassCost(traced, processCpuS() - c0, (st1 - st0).toDouble / math.max(1L, tot1 - tot0))
          passes += p -> cost
          System.err.println(f"[perfbench] pass $i${if (traced) " (traced)" else ""}: " +
            f"${p.wallS}%.2f s wall, ${cost.cpuS}%.2f s cpu, steal ${cost.stealFrac}%.3f")
          wl.outputs(i, scratch).foreach { case (key, value) =>
            val bad = want.get(key).filter(_ != value).map(w => s"expected $w") ++
              firstSeen.get(key).filter(_ != value).map(f => s"an earlier pass gave $f") ++
              (if (want.nonEmpty && !want.contains(key)) Some("no expected value") else None)
            firstSeen.getOrElseUpdate(key, value)
            if (bad.nonEmpty) {
              failed += 1
              failures += s"pass $i: $key = $value, ${bad.mkString(", ")}"
            }
          }
          if (traced) counters += wl.counters(i, scratch)
          true
        } catch { case e: Exception =>
          failed += wl.opsPerPass
          failures += s"pass $i failed: $e"
          e.printStackTrace()
          false
        }
      if (traced) {
        org.apache.spark.PerfBenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        spark.listenerManager.unregister(listener)
        tracer.enabled = false
      }
      wl.cleanup(i, scratch)
      spark.catalog.clearCache()
      // every pass starts from the same heap: no garbage of the last one
      System.gc()
      i += 1
      ok
    }

    // warm-up: whole passes over the measured inputs, checked, untimed
    val tw = System.nanoTime()
    var ok = (0 until WarmPasses).forall(_ => checkedPass(traced = false))
    val warmS = secondsSince(tw)
    val warmCount = passes.size
    val setupS = sessionS + median(setupWalls) + warmS

    val probe = cpuProbe(spark, k)
    // the window: passes until --seconds is spent, at least MinPasses. A
    // traced run alternates untraced and traced passes, so both see the same
    // warm state and the tracing overhead is their difference.
    val t0 = System.nanoTime()
    val iterWalls = ArrayBuffer.empty[Double]
    var measured = 0
    def more: Boolean = ok && (measured < MinPasses ||
      secondsSince(t0) + median(iterWalls.toSeq) <= o.seconds)
    while (more) {
      val ti = System.nanoTime()
      ok = checkedPass(traced = o.trace && measured % 2 == 1)
      iterWalls += secondsSince(ti)
      measured += 1
    }
    val windowS = secondsSince(t0)
    val rssMb = peakRssMb()
    failed = math.min(failed, attempted)
    val correct = failures.isEmpty

    val window = passes.drop(warmCount).toSeq
    val untracedPasses = window.collect { case (p, c) if !c.traced => p }
    val tracedPasses = window.collect { case (p, c) if c.traced => p }
    val ops = untracedPasses.flatMap(_.opWalls)

    val metrics: Seq[(String, String, Double)] =
      if (!o.trace) Seq(
        ("setup_s", "s", setupS),
        ("work_per_s", "1/s", median(untracedPasses.map(p => p.work / p.wallS))),
        ("op_p50_ms", "ms", median(ops) * 1000),
        ("state_mb", "MB", median(untracedPasses.map(_.stateBytes.toDouble)) / 1e6),
        ("peak_rss_mb", "MB", rssMb))
      else Layers.metrics(wl, tracer, listener, k, counters.toSeq, tracedPasses,
        median(untracedPasses.map(_.wallS)))

    val result = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, u, v) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))

    val tag = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    val storageMb = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1e6
    val report = Json.obj(Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "variant" -> variant.toString, "scale" -> Json.str(scale), "threads" -> k.toString,
      "sizes" -> Json.obj(wl.sizes.map { case (n, v) => n -> v.toString }),
      "input_mb" -> Json.num(du(inputDir)._1 / 1e6),
      "storage_memory_mb" -> Json.num(storageMb),
      "session_s" -> Json.num(sessionS), "warmup_s" -> Json.num(warmS),
      "setup_walls_s" -> setupWalls.map(Json.num).mkString("[", ",", "]"),
      "cpu_probe_s" -> Json.num(probe),
      "warm_passes" -> warmCount.toString,
      "window_s" -> Json.num(windowS), "passes" -> window.size.toString,
      "traced_passes" -> tracedPasses.size.toString,
      "op_walls_s" -> ops.map(Json.num).mkString("[", ",", "]"),
      "pass_walls_s" -> passes.map(p => Json.num(p._1.wallS)).mkString("[", ",", "]"),
      "pass_cpu_s" -> passes.map(p => Json.num(p._2.cpuS)).mkString("[", ",", "]"),
      "pass_steal_frac" -> passes.map(p => Json.num(p._2.stealFrac)).mkString("[", ",", "]"),
      "failed_frac" -> Json.num(failed.toDouble / math.max(1L, attempted)),
      "failures" -> failures.map(Json.str).mkString("[", ",", "]")))
    deleteTree(inputDir)

    Files.createDirectories(Paths.get(o.result).getParent)
    val reportDir = Paths.get(o.result).getParent
    Files.write(reportDir.resolve(s"$tag.report.json"), (report + "\n").getBytes(StandardCharsets.UTF_8))
    if (o.trace)
      Files.write(reportDir.resolve(s"$tag.spans.jsonl"),
        tracer.spansJsonLines.map(_ + "\n").mkString.getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(o.result), (result + "\n").getBytes(StandardCharsets.UTF_8))
    failures.foreach(f => System.err.println(s"[perfbench] $f"))
    if (correct) 0 else 1
  }
}
