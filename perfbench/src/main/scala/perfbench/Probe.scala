package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable

/** A low-duty probe of the host's speed while the engine works: every
  * `periodMs` it times a small fixed piece of plain JVM work (sorting a
  * pseudo-random array that fits in a core's cache) by the CPU time of its
  * own thread. Other guests that share the machine's cores slow it as they
  * slow the engine; the engine's own threads barely touch its cache-sized
  * data. `run.py` divides the CPU times of the fixed work and of the warm
  * set-ups by the median probe that ran beside them. */
final class Probe(periodMs: Long) extends Thread("perfbench-probe") {
  setDaemon(true)
  private val n = 1 << 14
  private val samples = mutable.ArrayBuffer[Long]()
  @volatile private var running = true
  @volatile private var sink = 0L

  override def run(): Unit = {
    val mx = ManagementFactory.getThreadMXBean
    val a = new Array[Long](n)
    var seed = 1L
    while (running) {
      val c0 = mx.getCurrentThreadCpuTime
      var x = seed
      var i = 0
      while (i < n) { x = x * 6364136223846793005L + 1442695040888963407L; a(i) = x; i += 1 }
      java.util.Arrays.sort(a)
      sink += a(n / 2)
      val c = mx.getCurrentThreadCpuTime - c0
      samples.synchronized { samples += c }
      seed += 1
      Thread.sleep(periodMs)
    }
  }

  /** Stops the probe and returns its CPU times, in seconds, in order. */
  def finish(): Seq[Double] = {
    running = false
    join()
    samples.synchronized(samples.map(_ / 1e9).toSeq)
  }
}
