package lakebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** The host record every run's report carries, so that a slow run can be
  * told from a slow program: load, steal, and the time of a fixed
  * single-thread CPU kernel taken just before and just after the timed
  * sequence. The steal share alone misses host slow-downs; the kernel time
  * moves with them.
  */
object Host {

  @volatile private var sink = 0L

  /** Median time of three runs of a fixed xorshift loop, in ms. */
  def kernelMs(): Double = {
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var acc = 0L
      var i = 0
      while (i < 25000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += x & 0xff
        i += 1
      }
      sink += acc
      (System.nanoTime() - t0) / 1e6
    }
    times.sorted.apply(1)
  }

  def loadAvg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ").take(3).mkString(" ")
    catch { case _: java.io.IOException => "" }

  /** The machine's CPU time counters, /proc/stat's first line. */
  def cpuTicks(): Array[Long] =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).take(8).map(_.toLong)
    catch { case _: java.io.IOException => Array.empty }

  /** Share of the CPU time between two readings that the hypervisor gave
    * to other guests (steal); NaN where the counters are missing. */
  def stealShare(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) Double.NaN
    else {
      val total = (b zip a).map { case (x, y) => x - y }.sum
      if (total <= 0) Double.NaN else (b(7) - a(7)).toDouble / total
    }

  /** Heap in use after a full collection, in MB. Spark's cleaner frees
    * unreferenced broadcast and shuffle blocks only after a collection has
    * shown them unreachable, so collect, give it a moment, collect again. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
