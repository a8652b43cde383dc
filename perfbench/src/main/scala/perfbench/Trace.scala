package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval around a call into a layer. `request` is shared
  * by every span of one client request; `parent` is 0 for a root.
  */
final case class Span(id: Long, name: String, parent: Long, request: Long,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Spark work charged to one span: what its jobs, stages and tasks did. */
final class SparkWork {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var slotWaitMs = 0L
  var shuffleWriteBytes = 0L; var shuffleReadRecords = 0L; var fetchWaitMs = 0L
  var spillMemory = 0L; var spillDisk = 0L; var peakExecMemory = 0L
  /** (start, end) epoch ms of each job. */
  val jobSpans = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; slotWaitMs += o.slotWaitMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadRecords += o.shuffleReadRecords
    fetchWaitMs += o.fetchWaitMs; spillMemory += o.spillMemory; spillDisk += o.spillDisk
    peakExecMemory = math.max(peakExecMemory, o.peakExecMemory)
    jobSpans ++= o.jobSpans
  }
}

/** Span recorder plus the listener that charges Spark work to spans.
  *
  * Each client thread names its innermost open span in a Spark local
  * property; Spark copies local properties into every job and stage it
  * submits for that thread, so the listener attributes work correctly
  * with several clients sharing one scheduler. Spans stay in memory
  * until [[finish]]. A disabled tracer records nothing and registers
  * no listener, so untraced runs pay for neither.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) extends SparkListener {
  import Tracer.Key

  private val ids = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val open = new ThreadLocal[List[(Long, Long)]] { // (span, request)
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val work = new ConcurrentHashMap[Long, SparkWork]()
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Double]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()

  if (enabled) sc.addSparkListener(this)

  /** Run `body` as a root span: a new request. */
  def request[T](name: String)(body: => T): T = within(name, root = true)(body)

  /** Run `body` as a child of the thread's open span. */
  def span[T](name: String)(body: => T): T = within(name, root = false)(body)

  private def within[T](name: String, root: Boolean)(body: => T): T =
    if (!enabled) body
    else {
      val stack = open.get()
      val id = ids.getAndIncrement()
      val parent = if (root || stack.isEmpty) 0L else stack.head._1
      val req = if (root || stack.isEmpty) id else stack.head._2
      val prevProp = sc.getLocalProperty(Key)
      open.set((id, req) :: stack)
      sc.setLocalProperty(Key, id.toString)
      val t0 = nowMs()
      try body
      finally {
        spans.add(Span(id, name, parent, req, t0, nowMs()))
        sc.setLocalProperty(Key, prevProp)
        open.set(stack)
      }
    }

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Key))).map(_.toLong).getOrElse(0L)
  private def workOf(span: Long): SparkWork = work.computeIfAbsent(span, _ => new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    jobSpan.put(e.jobId, s)
    jobStart.put(e.jobId, e.time.toDouble)
    e.stageInfos.foreach(si => stageSpan.putIfAbsent(si.stageId, s))
    val w = workOf(s)
    w.synchronized { w.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = Option(jobSpan.get(e.jobId)).map(_.longValue).getOrElse(0L)
    val t0 = Option(jobStart.remove(e.jobId)).map(_.doubleValue).getOrElse(e.time.toDouble)
    val w = workOf(s)
    w.synchronized { w.jobSpans += ((t0, e.time.toDouble)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    val s = if (e.properties != null && e.properties.getProperty(Key) != null)
      spanOf(e.properties) else Option(stageSpan.get(id)).map(_.longValue).getOrElse(0L)
    stageSpan.put(id, s)
    stageSubmit.put(id, java.lang.Long.valueOf(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    val w = workOf(s)
    w.synchronized { w.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L)
    val submitted = Option(stageSubmit.get(e.stageId)).map(_.longValue)
      .getOrElse(e.taskInfo.launchTime)
    val m = e.taskMetrics
    val w = workOf(s)
    w.synchronized {
      w.tasks += 1
      w.slotWaitMs += math.max(0L, e.taskInfo.launchTime - submitted)
      if (m != null) {
        w.runMs += m.executorRunTime; w.cpuNs += m.executorCpuTime; w.gcMs += m.jvmGCTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
        w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        w.spillMemory += m.memoryBytesSpilled; w.spillDisk += m.diskBytesSpilled
        w.peakExecMemory = math.max(w.peakExecMemory, m.peakExecutionMemory)
      }
    }
  }

  /** Wait for the listener to see every event posted so far, then hand
    * back all closed spans and the Spark work charged to each.
    */
  def finish(): (Seq[Span], Map[Long, SparkWork]) = {
    if (enabled) org.apache.spark.PerfbenchBus.drain(sc)
    import scala.jdk.CollectionConverters._
    (spans.asScala.toSeq.sortBy(_.startMs), work.asScala.toMap)
  }

  /** Spans as JSON lines, one per span. */
  def write(path: java.nio.file.Path, all: Seq[Span]): Unit = {
    val lines = all.map(s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val Key = "perfbench.span"

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** A span's self time: its length minus what its children cover. */
  def selfMs(s: Span, children: Seq[Span]): Double =
    s.ms - covered(children.map(c => (c.startMs, c.endMs)), s.startMs, s.endMs)
}
