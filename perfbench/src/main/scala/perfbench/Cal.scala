package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

/** CPU calibration inside the benchmark JVM, independent of the program
  * under test: a fixed integer loop on the calling thread, timed in that
  * thread's CPU time.  Being CPU time, it ignores waits for a core and
  * stolen time; it follows only how fast the host's cores run, which
  * moves by tens of percent from minute to minute here, and so does the
  * program's CPU time for the same work.
  *
  * The workloads call `sample()` between units of work, outside every
  * timed region, and take its own CPU out of the unit's; run.py divides
  * a window's CPU seconds by the median sample over the reference one. */
object Cal {
  private val threads = ManagementFactory.getThreadMXBean
  private val Iters = 20000000
  @volatile private var sink = 0L
  val samples = mutable.ArrayBuffer[Double]()

  private def once(): Double = {
    val c0 = threads.getCurrentThreadCpuTime
    var acc = System.nanoTime()
    var i = 0
    while (i < Iters) {
      acc = (acc ^ (acc >>> 29)) * 0x9E3779B97F4A7C15L + i
      i += 1
    }
    sink += acc
    (threads.getCurrentThreadCpuTime - c0) / 1e6
  }

  /** Compile the loop before the first kept sample. */
  def warm(): Unit = (1 to 5).foreach(_ => once())

  /** One kept calibration; returns its ms of CPU on the calling thread. */
  def sample(): Double = {
    val ms = once()
    samples += ms
    ms
  }
}
