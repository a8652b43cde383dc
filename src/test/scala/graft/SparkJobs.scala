package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test helpers that pin what a call costs in Spark jobs, on the
  * shared test session.
  */
object SparkJobs {
  private def spark = SparkTestSession.spark
  private val groups = new AtomicInteger

  /** `body`'s result and the properties of every Spark job it started.
    * The jobs are told apart by a job group; the listener bus is
    * drained after `body`, so every job start it posted has been seen.
    */
  def jobsOf[T](body: => T): (T, Seq[Properties]) = {
    val sc = spark.sparkContext
    val group = s"spark-jobs-${groups.incrementAndGet()}"
    val seen = new ConcurrentLinkedQueue[Properties]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = seen.add(js.properties): Unit
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      ListenerBusBridge.drain(sc)
      (out, seen.asScala.filter(_.getProperty("spark.jobGroup.id") == group).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `body` with session confs set, restoring the previous values. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
