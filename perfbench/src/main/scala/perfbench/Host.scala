package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Host-noise record for every timed sample: the `/proc/stat` steal and
  * iowait share of all CPU time over the sample, and JVM GC time, so a
  * noisy window is flagged by data.
  */
object Host {
  final case class Snap(nanos: Long, cpuNs: Long, total: Long, iowait: Long, steal: Long,
      gcMs: Long)
  final case class Sample(label: String, pass: Int, wallS: Double, cpuS: Double,
      stealPct: Double, iowaitPct: Double, gcMs: Long)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  val samples = ArrayBuffer.empty[Sample]

  def snap(): Snap = {
    // cpu  user nice system idle iowait irq softirq steal guest guest_nice
    val f = Files.readAllLines(Paths.get("/proc/stat")).asScala.head
      .split("\\s+").drop(1).map(_.toLong)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
    // guest time is already counted in user time
    Snap(System.nanoTime(), os.getProcessCpuTime, f.take(8).sum, f(4), f(7), gc)
  }

  def between(label: String, pass: Int, a: Snap, b: Snap): Sample = {
    val dt = math.max(1L, b.total - a.total).toDouble
    Sample(label, pass, (b.nanos - a.nanos) / 1e9, (b.cpuNs - a.cpuNs) / 1e9,
      100.0 * (b.steal - a.steal) / dt, 100.0 * (b.iowait - a.iowait) / dt,
      b.gcMs - a.gcMs)
  }

  /** Time `body` as one sample; returns its wall seconds. */
  def timed(label: String, pass: Int)(body: => Unit): Double = {
    val a = snap()
    body
    val s = between(label, pass, a, snap())
    samples += s
    s.wallS
  }

  /** Share of CPU time the host stole over the given pass's samples,
    * weighted by their wall time. */
  def stealPct(pass: Int): Double = {
    val ss = samples.filter(_.pass == pass)
    ss.map(s => s.stealPct * s.wallS).sum / math.max(1e-9, ss.map(_.wallS).sum)
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
}
