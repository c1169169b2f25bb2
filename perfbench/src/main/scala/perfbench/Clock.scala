package perfbench

import java.nio.file.{Files, Paths}

/** The clock every benchmark time is read from: wall seconds less the CPU
  * time the hypervisor gave to other guests (Linux `steal`), averaged over
  * this machine's CPUs.
  *
  * On a shared virtual machine a pass can lose seconds to other guests;
  * with all cores busy that loss adds about (steal seconds ÷ CPUs) to its
  * wall time, and it varies from minute to minute. Where `/proc/stat` is
  * absent, or reports no steal, this is the plain wall clock.
  */
object Clock {
  private val cpus = Runtime.getRuntime.availableProcessors
  private val stat = Paths.get("/proc/stat")
  private val hasStat = Files.isReadable(stat)
  private val TicksPerSecond = 100.0 // USER_HZ, the unit of /proc/stat

  /** CPU seconds stolen from this guest since boot, all CPUs together. */
  def stealSeconds(): Double =
    if (!hasStat) 0.0
    else Files.readAllLines(stat).get(0).trim.split("\\s+")(8).toDouble / TicksPerSecond

  /** Seconds on the benchmark clock; subtract two readings to time an interval. */
  def now(): Double = System.nanoTime() / 1e9 - stealSeconds() / cpus

  /** CPU seconds this process has used. */
  def cpuSeconds(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
}
