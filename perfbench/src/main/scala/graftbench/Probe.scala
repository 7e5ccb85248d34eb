package graft.perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Process-level probes: CPU, GC, RSS, load, and small statistics. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean

  /** CPU-seconds consumed by this process so far (all threads). */
  def cpuSeconds: Double = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def load1m: Double = os.getSystemLoadAverage

  def heapMaxMb: Long = Runtime.getRuntime.maxMemory / (1024 * 1024)

  /** Peak resident set size of this process in MiB (VmHWM), or NaN
    * where /proc is unavailable. */
  def peakRssMb: Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) Double.NaN
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(Double.NaN)
      finally src.close()
    }
  }

  /** (steal, total) jiffies of all CPUs from /proc/stat, or zeros. */
  def cpuJiffies: (Long, Long) = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists()) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val xs = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (if (xs.length > 7) xs(7) else 0L, xs.sum)
      } finally src.close()
    }
  }

  /** Share of CPU time the host took from this machine between two
    * [[cpuJiffies]] samples: ambient load no code change causes. */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 <= a._2) 0.0 else (b._1 - a._1).toDouble / (b._2 - a._2)

  /** Linear-interpolated percentile (0..100) of `xs`; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}
