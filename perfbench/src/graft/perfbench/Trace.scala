package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `startMs`/`endMs` use the clock Spark stamps
  * job events with, so jobs can be placed inside spans; `durNs` is the
  * precise duration.
  */
final case class Span(id: Int, name: String, parent: Int, run: Int,
                      startMs: Long, endMs: Long, durNs: Long) {
  def contains(ms: Long): Boolean = ms >= startMs && ms <= endMs
}

/** Spans around the benchmark's own calls into the engine, kept in memory
  * and written out when the run ends. Spans are opened on the driver's main
  * thread only, so children never overlap each other. A disabled tracer
  * only runs the body.
  */
final class Tracer(var enabled: Boolean) {
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var open: List[Int] = Nil
  private var nextId = 0
  /** Pass index stamped on every span as its run id. */
  var run = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val dur = System.nanoTime() - t0
        open = open.tail
        spans += Span(id, name, parent, run, ms0, System.currentTimeMillis(), dur)
      }
    }

  /** Self time of each span: its duration minus the part its children cover. */
  def selfNs: Map[Int, Long] = {
    val covered = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    spans.iterator.map(s => s.id -> (s.durNs - covered.getOrElse(s.id, 0L))).toMap
  }

  def spansJsonLines: Iterator[String] = {
    val self = selfNs
    spans.iterator.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"run":${s.run},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_s":${s.durNs / 1e9},""" +
        s""""self_s":${self(s.id) / 1e9}}"""
    }
  }
}

final class JobRec(val id: Int, val startMs: Long, val desc: String, val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

final case class StageRec(tasks: Int, runMs: Long, gcMs: Long, spillBytes: Long,
                          shuffleWriteBytes: Long)

/** Per-job and per-stage engine counters, plus file-scan output rows per SQL
  * query (parquet scans do not fill the task input metrics in this Spark
  * build, so scan volume comes from the scan nodes' SQL metrics).
  */
final class EngineListener extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  private val sqlStartMs = new ConcurrentHashMap[Long, Long]()
  /** (query id, arrival ms, duration ms, scan rows) */
  private val queries = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
  // a reused exchange revisits the same scan node: count each metric once
  private val countedMetrics = ConcurrentHashMap.newKeySet[Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, desc, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null)
      stages.put(si.stageId, StageRec(si.numTasks, m.executorRunTime, m.jvmGCTime,
        m.diskBytesSpilled, m.shuffleWriteMetrics.bytesWritten))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlStartMs.put(s.executionId, s.time)
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    var rows = 0L
    try graft.PlanScan.foreachFileScan(qe.executedPlan) { f =>
      f.metrics.get("numOutputRows").foreach(m => if (countedMetrics.add(m.id)) rows += m.value)
    } catch { case _: Exception => () }
    queries.add((qe.id, System.currentTimeMillis(), durationNs / 1000000L, rows))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** (start ms, scan rows) per finished SQL query. The start comes from the
    * query's execution-start event, or its end minus its duration.
    */
  def scans: Seq[(Long, Long)] = queries.asScala.toSeq.map { case (id, arrival, durMs, rows) =>
    (Option(sqlStartMs.get(id)).getOrElse(arrival - durMs), rows)
  }

  def jobsIn(s: Span): Seq[JobRec] = jobs.values.asScala.filter(j => s.contains(j.startMs)).toSeq

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stageIds).distinct.flatMap(id => Option(stages.get(id)))

  def scanRowsIn(s: Span): Long = scans.collect { case (t, r) if s.contains(t) => r }.sum
}

/** Wall time attributed to labelled groups of jobs that may run at once
  * (the frontier's commit futures overlap its next-round preparation): each
  * instant is split evenly among the groups with a job running, so the
  * groups' times add up to the time any of them was busy.
  */
object SharedTime {
  def split(intervals: Seq[(String, Long, Long)]): Map[String, Double] = {
    val cuts = intervals.flatMap { case (_, a, b) => Seq(a, b) }.distinct.sorted
    val out = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val active = intervals.collect { case (g, s, e) if s <= a && e >= b => g }.distinct
      active.foreach(g => out(g) += (b - a).toDouble / active.size / 1000.0)
    }
    out.toMap
  }
}

/** Minimal JSON writing for the result and report lines. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
