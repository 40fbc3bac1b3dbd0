package graftbench

import java.nio.file.{Files, Paths}

/** Host-noise record: a fixed integer spin timed before each pass, and
  * the machine's `/proc/stat` steal and other-process CPU over the
  * measured interval. A contended window shows as a slow spin or a
  * high steal/other share in the run's own artifact. */
object Host {

  /** Fixed xorshift spin: the same instruction stream on every call, so
    * its wall time moves only with the core's speed and contention
    * (about 50 ms on an idle current x86 core). */
  def spinMs(iters: Long = 20000000L): Double = {
    var x = 88172645463325252L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 0L) println("spin") // keeps the loop live
    ms
  }

  /** Machine-wide CPU jiffies: (total, steal, busy). */
  final case class Cpu(total: Long, steal: Long, busy: Long, self: Long)

  def cpu(): Cpu =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal [guest guest_nice]
      val total = f.take(8).sum
      val busy = f(0) + f(1) + f(2) + f(5) + f(6)
      val st = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
      val fields = st.substring(st.lastIndexOf(')') + 2).split(" ")
      // utime and stime are fields 14 and 15, i.e. 11 and 12 after ')'.
      Cpu(total, f(7), busy, fields(11).toLong + fields(12).toLong)
    } catch { case _: Exception => Cpu(0, 0, 0, 0) }

  /** (steal %, other-process busy %) of machine CPU between two reads. */
  def shares(a: Cpu, b: Cpu): (Double, Double) = {
    val dt = (b.total - a.total).toDouble
    if (dt <= 0) (0.0, 0.0)
    else {
      val other = math.max(0L, (b.busy - a.busy) - (b.self - a.self))
      (100.0 * (b.steal - a.steal) / dt, 100.0 * other / dt)
    }
  }
}
