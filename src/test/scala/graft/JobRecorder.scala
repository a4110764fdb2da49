package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Records the description of every job started while `during` runs. The
  * bus is drained before and after, so the result holds exactly that body's
  * jobs (test suites run one at a time in the forked test JVM).
  */
object JobRecorder {
  def during(spark: SparkSession)(body: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val descs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descs.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("<none>"))
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerBusDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    descs.asScala.toSeq
  }
}
