package graftbench

/** Host stamps for each run: core count, 1-min loadavg before the run, the
  * hypervisor steal share of busy time during it (/proc/stat), and a
  * single-thread delivered-speed probe before and after. A shared VM can
  * halve per-core speed for minutes while loadavg and steal read clean; only
  * a fixed unit of single-thread work shows it. Same method as the
  * repository's bulk bench harness, kept here so the benchmark stands alone.
  */
object Host {
  def nproc: Int = Runtime.getRuntime.availableProcessors()

  /** CPU time of this JVM across all its threads (ns). Time the hypervisor
    * steals from the VM is not charged to it, unlike wall time.
    */
  def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => 0L
    }

  def loadavg1: Double =
    try {
      val f = scala.io.Source.fromFile("/proc/loadavg")
      try f.getLines().next().split("\\s+")(0).toDouble finally f.close()
    } catch { case _: Exception => -1.0 }

  /** Whole-box CPU jiffies: (user + nice + system, steal); zeros off Linux. */
  def cpuJiffies: (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val c = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
      (c(0) + c(1) + c(2), if (c.length > 7) c(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }

  def stealShare(a: (Long, Long), b: (Long, Long)): Double = {
    val busy = (b._1 - a._1).toDouble
    val steal = (b._2 - a._2).toDouble
    if (busy + steal > 0) steal / (busy + steal) else 0.0
  }

  /** Deterministic splitmix64 chain: the probe's unit of CPU work. */
  private def mixChain(n: Long): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < n) {
      x ^= x >>> 30; x *= 0xBF58476D1CE4E5B9L
      x ^= x >>> 27; x *= 0x94D049BB133111EBL
      x ^= x >>> 31; x += 0x9E3779B97F4A7C15L
      i += 1
    }
    x
  }
  private lazy val warmed: Long = mixChain(1L << 22)

  /** Single-thread delivered speed in mega-mixes per second (~0.1 s busy). */
  def probe(): Double = {
    require(warmed != 0L)
    val n = 1L << 25
    val t0 = System.nanoTime()
    val s = mixChain(n)
    val dt = (System.nanoTime() - t0) / 1e9
    if (s == 42L) System.err.println("") // keeps the chain observable
    n / dt / 1e6
  }
}
