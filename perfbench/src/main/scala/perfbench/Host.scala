package perfbench

import java.nio.file.{Files, Path}

/** Host-noise and resource probes read from /proc and the file system. */
object Host {
  /** (machine ticks, machine busy ticks, this process's ticks, iowait
    * ticks); all -1 where /proc is unreadable.
    */
  final case class Ticks(total: Long, busy: Long, own: Long, iowait: Long)

  def ticks(): Ticks =
    try {
      val cpu = readFile("/proc/stat").linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      val total = cpu.sum
      val iow = if (cpu.length > 4) cpu(4) else 0L
      // the command name may hold spaces: fields count from the ')'
      val self = readFile("/proc/self/stat")
      val f = self.substring(self.lastIndexOf(')') + 2).split("\\s+")
      Ticks(total, total - cpu(3) - iow, f(11).toLong + f(12).toLong, iow)
    } catch { case _: Exception => Ticks(-1, -1, -1, -1) }

  /** Share of the machine's CPU time that other processes used between
    * two samples; -1 when unmeasurable.
    */
  def foreignShare(a: Ticks, b: Ticks): Double =
    if (a.total < 0 || b.total <= a.total) -1.0
    else math.max(0.0, ((b.busy - a.busy) - (b.own - a.own)).toDouble / (b.total - a.total))

  /** Share of machine time spent waiting on I/O between two samples;
    * -1 when unmeasurable. A disk-bound neighbour shows here and not
    * in [[foreignShare]].
    */
  def iowaitShare(a: Ticks, b: Ticks): Double =
    if (a.total < 0 || b.total <= a.total) -1.0
    else math.max(0.0, (b.iowait - a.iowait).toDouble / (b.total - a.total))

  /** The process's peak resident set (VmHWM) in bytes; -1 if unknown. */
  def peakRssBytes(): Long =
    try readFile("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong * 1024L).getOrElse(-1L)
    catch { case _: Exception => -1L }

  /** CPU time this process has used, all threads, in nanoseconds. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap bytes in use after a full collection: the program's live
    * data, independent of when the collector last ran. Costs a pause,
    * so it is taken only between timed phases.
    */
  def liveHeapBytes(): Long = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed
  }

  /** Bytes of regular files under `root` (0 when it does not exist).
    * Files come and go under a live store, so a file that vanishes
    * mid-walk counts as 0.
    */
  def dirBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.mapToLong { p =>
        try { if (Files.isRegularFile(p)) Files.size(p) else 0L }
        catch { case _: java.io.IOException => 0L }
      }.sum()
      catch { case _: java.io.UncheckedIOException => -1L }
      finally s.close()
    }

  def freeBytes(p: Path): Long = Files.getFileStore(p).getUsableSpace

  private def readFile(p: String): String = {
    val s = scala.io.Source.fromFile(p)
    try s.mkString finally s.close()
  }
}
