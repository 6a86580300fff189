package perfbench

import java.nio.file.{Files, Paths}

/** CPU time the hypervisor took from this machine's vCPUs ("steal" in
  * /proc/stat). On a shared host it stretches every wall-clock window by
  * 1 / (1 - s), where s is the stolen share of the time the vCPUs wanted
  * to run; `adjust` removes that stretch. Where /proc/stat is missing or
  * shows no steal, the adjustment is the identity.
  */
object Host {
  /** (busy, stolen) jiffies summed over all CPUs. */
  final case class Ticks(busy: Long, steal: Long)

  private val stat = Paths.get("/proc/stat")

  def ticks(): Ticks =
    if (!Files.isReadable(stat)) Ticks(0, 0)
    else {
      // cpu user nice system idle iowait irq softirq steal ...
      val f = Files.readAllLines(stat).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      Ticks(f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    }

  /** Stolen share of the runnable CPU time between two samples. */
  def stolen(a: Ticks, b: Ticks): Double = {
    val steal = b.steal - a.steal
    val wanted = (b.busy - a.busy) + steal
    if (wanted <= 0) 0.0 else steal.toDouble / wanted
  }

  /** Runs `body`; returns its result, its wall seconds and its wall
    * seconds with the host's steal removed. */
  def timed[T](body: => T): (T, Double, Double) = {
    val a = ticks()
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    (r, wall, wall * (1 - stolen(a, ticks())))
  }
}
