package perfbench

/** Busy and stolen CPU seconds of the host, summed over its CPUs, from
  * /proc/stat. The hypervisor of the shared 4-core hosts this benchmark runs
  * on takes CPU time from them (steal) in bursts of minutes, up to a quarter
  * of it, and a run's times grow with it. */
final case class HostCpu(busyS: Double, stealS: Double) {

  /** Share of the CPU time the host's CPUs wanted since `from` that the
    * hypervisor took. A busy CPU loses its time slices in that share
    * whatever work it runs, so scaling a time by (1 - share) removes the
    * steal without depending on how much CPU the engine uses. */
  def stolenShareSince(from: HostCpu): Double = {
    val steal = stealS - from.stealS
    val wanted = steal + busyS - from.busyS
    if (wanted > 0) steal / wanted else 0.0
  }
}

object HostCpu {

  /** Now; zeros where /proc/stat is not available. */
  def read(): HostCpu =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      // cpu user nice system idle iowait irq softirq steal ...
      val f = try src.getLines().next().split("\\s+").drop(1).map(_.toDouble / 100.0)
      finally src.close()
      HostCpu(busyS = f(0) + f(1) + f(2) + f(5) + f(6), stealS = f(7))
    } catch { case _: Exception => HostCpu(0, 0) }
}
