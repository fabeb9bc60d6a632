package perfbench

import java.lang.management.ManagementFactory

/** A fixed piece of JVM work that measures how fast the host runs this JVM
  * at a given moment. A shared host's speed drifts with other tenants' load
  * (caches, memory bandwidth, SMT siblings), and the CPU time of the same
  * engine work drifts with it; the harness divides pass CPU times by the
  * run's median probe time. The probe is a dependent walk through a random
  * cycle of 2^21 slots (8 MB, beyond the caches) per thread, on as many
  * threads as the engine has task slots. It uses no engine code, so a change
  * to the engine cannot move it.
  */
object Probe {
  private val Slots = 1 << 21
  private val Steps = 1 << 19

  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def cycle(seed: Long): Array[Int] = {
    val order = Array.tabulate(Slots)(identity)
    val rnd = new java.util.SplittableRandom(seed)
    for (i <- Slots - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val x = order(i); order(i) = order(j); order(j) = x
    }
    val next = new Array[Int](Slots)
    for (i <- 0 until Slots) next(order(i)) = order((i + 1) % Slots)
    next
  }

  // one cycle per thread, built on first use and dropped by `release`
  private var cycles = Array.empty[Array[Int]]

  @volatile private var sink = 0L

  /** CPU time of one probe, summed over its `threads` threads, in ms. */
  def cpuMs(threads: Int): Double = {
    if (cycles.length < threads) cycles = Array.tabulate(threads)(t => cycle(t + 1L))
    val mx = ManagementFactory.getThreadMXBean
    val cpu = new java.util.concurrent.atomic.AtomicLong
    val ts = (0 until threads).map { t =>
      val next = cycles(t)
      new Thread(() => {
        val c0 = mx.getCurrentThreadCpuTime
        var p = 0
        var acc = 0L
        var i = 0
        while (i < Steps) { p = next(p); acc = mix(acc + p); i += 1 }
        sink += acc
        cpu.addAndGet(mx.getCurrentThreadCpuTime - c0)
      }, s"perfbench-probe-$t")
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    cpu.get / 1e6
  }

  /** Drop the probe's arrays, so the retained heap is the engine's. */
  def release(): Unit = cycles = Array.empty
}
