package perfbench

import java.nio.file.{Files, Paths}
import scala.util.Try

/** The host envelope a result carries, so a slow run can be attributed from the
  * artifact alone: CPUs granted, memory, a fixed single-thread probe, and the CPU
  * steal and cgroup throttling that accrued while the run was measuring.
  */
final case class HostSnapshot(stealTicks: Long, throttledUs: Long)

object Host {
  def nproc: Int = Runtime.getRuntime.availableProcessors

  def memTotalKb: Long = readLines("/proc/meminfo")
    .find(_.startsWith("MemTotal:"))
    .flatMap(l => Try(l.split("\\s+")(1).toLong).toOption)
    .getOrElse(0L)

  def memGb: Double = memTotalKb / 1048576.0

  def snapshot(): HostSnapshot = {
    // /proc/stat "cpu" line: user nice system idle iowait irq softirq steal ...
    val steal = readLines("/proc/stat").find(_.startsWith("cpu "))
      .flatMap(l => Try(l.trim.split("\\s+")(8).toLong).toOption).getOrElse(0L)
    // cgroup v2 cpu.stat; absent outside a cgroup-limited container
    val throttled = readLines("/sys/fs/cgroup/cpu.stat").find(_.startsWith("throttled_usec"))
      .flatMap(l => Try(l.split("\\s+")(1).toLong).toOption).getOrElse(0L)
    HostSnapshot(steal, throttled)
  }

  /** Fixed-work single-thread probe: fill, sort and fold 2M seeded longs (16 MB).
    * Minimum of three, since host noise only ever slows a run.
    */
  def probeSeconds(): Double = {
    val n = 1 << 21
    val a = new Array[Long](n)
    val secs = (1 to 3).map { _ =>
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < n) { x = mix(x); a(i) = x; i += 1 }
      val t0 = System.nanoTime()
      java.util.Arrays.sort(a)
      var h = 0L
      i = 0
      while (i < n) { h ^= mix(a(i) ^ i); i += 1 }
      if (h == 42L) System.err.println("probe: improbable fold") // keeps the fold live
      (System.nanoTime() - t0) / 1e9
    }
    secs.min
  }

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def readLines(path: String): Seq[String] =
    Try {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(Paths.get(path)).asScala.toSeq
    }.getOrElse(Nil)
}
