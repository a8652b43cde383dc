package graft

import java.nio.file.Files
import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import org.apache.spark.graftshim.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test helpers that pin what a call costs in Spark jobs and forked
  * processes, on the shared test session.
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

  /** `body`'s result and the number of processes Hadoop forked while
    * it ran, in any thread: `Shell.runCommand` starts one stderr reader
    * thread per command, so each fork is one JFR `jdk.ThreadStart`
    * event whose stack passes through it. `Shell`'s class init forks
    * once (its `setsid` probe); it runs before the recording starts.
    */
  def forksOf[T](body: => T): (T, Int) = {
    Class.forName("org.apache.hadoop.util.Shell")
    val rec = new Recording
    rec.enable("jdk.ThreadStart").withStackTrace()
    val file = Files.createTempFile("forks", ".jfr")
    try {
      rec.start()
      val out = try body finally rec.stop()
      rec.dump(file)
      val forks = RecordingFile.readAllEvents(file).asScala.count(e =>
        Option(e.getStackTrace).exists(_.getFrames.asScala.exists { f =>
          f.getMethod.getType.getName == "org.apache.hadoop.util.Shell" &&
            f.getMethod.getName == "runCommand"
        }))
      (out, forks)
    } finally { rec.close(); Files.deleteIfExists(file): Unit }
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
