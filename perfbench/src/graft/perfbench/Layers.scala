package graft.perfbench

import scala.collection.mutable

/** The per-layer metrics of a traced run, computed from the benchmark's
  * spans and its engine listener. Every run reports every metric; a layer
  * the workload does not touch reports 0.
  */
object Layers {
  val frontierPhases: Seq[String] = Seq("init", "select", "commit", "prep_next", "compact")
  val graphSteps: Seq[String] = Seq("hostgraph.build", "domaingraph.fold",
    "harmonic.hyperball", "pagerank.run", "ranking.join_ranks", "wcc.weak")

  /** Every per-layer metric as (name, unit), in report order. */
  val names: Seq[(String, String)] =
    frontierPhases.map(p => s"frontier.${p}_s" -> "s") ++ Seq(
      "frontier.jobs_per_round" -> "count",
      "frontier.tasks_per_round" -> "count",
      "frontier.shuffle_mb_per_round" -> "MB",
      "frontier.fetch_scan_rows_per_url" -> "rows/url",
      "frontier.dedup_yield" -> "ratio",
      "frontier.selected_per_round" -> "count",
      "tableio.files_per_round" -> "count",
      "tableio.mb_written_per_round" -> "MB",
      "functions.extract_s" -> "s") ++
    graphSteps.flatMap(s => Seq(s"${s}_s" -> "s", s"$s.jobs" -> "count",
      s"$s.shuffle_mb" -> "MB", s"$s.spill_mb" -> "MB")) ++ Seq(
      "engine.jobs" -> "count",
      "engine.stages" -> "count",
      "engine.tasks" -> "count",
      "engine.gc_s" -> "s",
      "engine.spill_mb" -> "MB",
      "engine.shuffle_write_mb" -> "MB",
      "engine.cpu_busy_frac" -> "ratio",
      "trace.overhead_s" -> "s")

  /** The frontier phase of a job, from its `frontier:rN:<label>` description. */
  def phaseOf(desc: String): String = desc.split(":", 3) match {
    case Array("frontier", _, "select+dedup") => "select"
    case Array("frontier", _, "log" | "pending" | "removed" | "seen") => "commit"
    case Array("frontier", _, "pending:compact" | "removed:compact") => "compact"
    case Array("frontier", _, "prep-next") => "prep_next"
    case _ => "other"
  }

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def metrics(wl: Workload, tracer: Tracer, lis: EngineListener, k: Int,
              counters: Seq[Map[String, Double]], traced: Seq[Pass],
              untracedWall: Double): Seq[(String, String, Double)] = {
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val spans = tracer.spans.toSeq
    val self = tracer.selfNs
    val roots = spans.filter(_.name == "pass")
    def named(n: String) = spans.filter(_.name == n)
    def childOf(root: Span, n: String) = spans.filter(s => s.parent == root.id && s.name == n)
    def sumC(key: String) = counters.map(_.getOrElse(key, 0.0)).sum
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def stageSum(js: Seq[JobRec])(f: StageRec => Double) = lis.stagesOf(js).map(f).sum

    wl match {
      case _: Crawl =>
        val rounds = sumC("rounds")
        val phaseS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
        var runJobs = Seq.empty[JobRec]
        roots.foreach { root =>
          val init = childOf(root, "frontier.init").flatMap(lis.jobsIn).map(j => ("init", j.startMs, j.endMs))
          val run = childOf(root, "frontier.run").flatMap(lis.jobsIn)
          runJobs ++= run
          SharedTime.split(init ++ run.map(j => (phaseOf(j.desc), j.startMs, j.endMs)))
            .foreach { case (p, s) => phaseS(p) += s }
        }
        m("frontier.init_s") = ratio(phaseS("init"), roots.size)
        frontierPhases.filter(_ != "init").foreach(p => m(s"frontier.${p}_s") = ratio(phaseS(p), rounds))
        m("frontier.jobs_per_round") = ratio(runJobs.size, rounds)
        m("frontier.tasks_per_round") = ratio(stageSum(runJobs)(_.tasks), rounds)
        m("frontier.shuffle_mb_per_round") = ratio(stageSum(runJobs)(_.shuffleWriteBytes) / 1e6, rounds)
        m("frontier.fetch_scan_rows_per_url") =
          ratio(roots.map(lis.scanRowsIn).sum, traced.map(_.work).sum)
        m("frontier.dedup_yield") = ratio(sumC("barrier_new_urls"), sumC("barrier_candidates"))
        m("frontier.selected_per_round") = ratio(sumC("selected"), rounds)
        m("tableio.files_per_round") = ratio(sumC("run_files"), rounds)
        m("tableio.mb_written_per_round") = ratio(sumC("run_bytes") / 1e6, rounds)
      case _: GraphBuild =>
        m("functions.extract_s") = PerfBench.median(named("functions.extract").map(s => self(s.id) / 1e9))
        graphSteps.foreach { step =>
          val ss = named(step)
          m(s"${step}_s") = PerfBench.median(ss.map(s => self(s.id) / 1e9))
          m(s"$step.jobs") = mean(ss.map(s => lis.jobsIn(s).size.toDouble))
          m(s"$step.shuffle_mb") = mean(ss.map(s => stageSum(lis.jobsIn(s))(_.shuffleWriteBytes) / 1e6))
          m(s"$step.spill_mb") = mean(ss.map(s => stageSum(lis.jobsIn(s))(_.spillBytes) / 1e6))
        }
    }

    val rootJobs = roots.map(lis.jobsIn)
    m("engine.jobs") = mean(rootJobs.map(_.size.toDouble))
    m("engine.stages") = mean(rootJobs.map(js => lis.stagesOf(js).size.toDouble))
    m("engine.tasks") = mean(rootJobs.map(js => stageSum(js)(_.tasks)))
    m("engine.gc_s") = mean(rootJobs.map(js => stageSum(js)(_.gcMs) / 1000))
    m("engine.spill_mb") = mean(rootJobs.map(js => stageSum(js)(_.spillBytes) / 1e6))
    m("engine.shuffle_write_mb") = mean(rootJobs.map(js => stageSum(js)(_.shuffleWriteBytes) / 1e6))
    m("engine.cpu_busy_frac") = ratio(rootJobs.map(js => stageSum(js)(_.runMs) / 1000).sum,
      roots.map(_.durNs / 1e9).sum * k)
    m("trace.overhead_s") = PerfBench.median(traced.map(_.wallS)) - untracedWall
    names.map { case (n, u) => (n, u, m(n)) }
  }
}
