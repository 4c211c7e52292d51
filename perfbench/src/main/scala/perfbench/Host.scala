package perfbench

/** Host-load context for one run, computed the way `graft.Bench` does:
  * machine-wide busy jiffies from /proc/stat minus this JVM's own CPU
  * time give the CPU other processes used. Reported beside the
  * metrics, never used to accept or reject a run.
  */
object Host {
  final case class Sample(totalJiffies: Long, idleJiffies: Long, stealJiffies: Long,
      ownCpuNs: Long, loadavg: Double)

  def sample(): Sample = {
    val (t, i, s) =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try {
          val p = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
          // guest/guest_nice (fields 8, 9) are already inside user/nice
          (p.take(8).sum, p(3) + (if (p.length > 4) p(4) else 0L), if (p.length > 7) p(7) else 0L)
        } finally src.close()
      } catch { case _: Exception => (-1L, 0L, 0L) }
    val own = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }
    val load =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.getLines().next().split(" ")(0).toDouble finally src.close()
      } catch { case _: Exception => -1.0 }
    Sample(t, i, s, own, load)
  }

  /** (other-process CPU % of machine capacity, steal %) between two samples. */
  def between(a: Sample, b: Sample): (Double, Double) =
    if (a.totalJiffies < 0 || b.totalJiffies <= a.totalJiffies) (-1.0, -1.0)
    else {
      val dTotal = (b.totalJiffies - a.totalJiffies).toDouble
      val busy = dTotal - (b.idleJiffies - a.idleJiffies)
      // USER_HZ = 100 jiffies per cpu-second
      val own = if (a.ownCpuNs < 0 || b.ownCpuNs < a.ownCpuNs) 0.0 else (b.ownCpuNs - a.ownCpuNs) / 1e7
      (math.max(0.0, busy - own) / dTotal * 100, (b.stealJiffies - a.stealJiffies) / dTotal * 100)
    }
}
