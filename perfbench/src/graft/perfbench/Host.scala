package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

/** Host and JVM readings taken around a run, so a run made on a busy
  * host shows it in its own record.
  */
object Host {

  /** One-minute load average; -1 where /proc/loadavg is unreadable. */
  def loadavg1m(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  @volatile private var sink = 0L

  /** A fixed amount of single-thread integer work, in ms: on an idle
    * host it reads the same every time, so a slow reading means the
    * core was shared. Median of three.
    */
  def canaryMs(): Double = Stats.median((0 until 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    sink += acc
    (System.nanoTime() - t0) / 1e6
  })

  /** Cumulative (steal, total) CPU time from /proc/stat: time the
    * hypervisor gave this machine's CPUs to someone else.
    */
  def cpuTimes(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").tail.map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  final case class Reading(loadavg1m: Double, canaryMs: Double, cpu: (Long, Long))

  def read(): Reading = Reading(loadavg1m(), canaryMs(), cpuTimes())

  /** Share of CPU time stolen by the hypervisor between two readings, %. */
  def stealPct(a: Reading, b: Reading): Double = {
    val total = b.cpu._2 - a.cpu._2
    if (total <= 0) 0.0 else 100.0 * (b.cpu._1 - a.cpu._1) / total
  }

  /** Total collector time of this JVM so far, seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Sum of the heap pools' peak usage, MiB. */
  def peakHeapMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}
