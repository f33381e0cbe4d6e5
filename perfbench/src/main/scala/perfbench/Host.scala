package perfbench

import scala.util.Try

/** Host-noise labels sampled at the start and end of a run, so a run on a
  * contended host says so in its own output: hypervisor steal, the CPU a
  * busy-burn actually obtained, load average and pressure-stall averages.
  */
object Host {

  private def read(path: String): Option[String] = Try {
    val s = scala.io.Source.fromFile(path)
    try s.mkString finally s.close()
  }.toOption

  def loadavg(): String =
    read("/proc/loadavg").map(_.trim.split(" ").take(3).mkString(",")).getOrElse("")

  /** "some avg10/avg60, full avg10/avg60" of one PSI resource. */
  def psi(kind: String): String = read(s"/proc/pressure/$kind").map(_.linesIterator.map { l =>
    val p = l.split(" ")
    p(0).take(1) + ":" + p.tail.filter(t => t.startsWith("avg10=") || t.startsWith("avg60="))
      .map(_.split("=")(1)).mkString("/")
  }.mkString(",")).getOrElse("")

  /** (steal jiffies, total jiffies) of the aggregate cpu line. */
  def cpuJiffies(): (Long, Long) = read("/proc/stat").flatMap(_.linesIterator
    .find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+").tail.map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    }).getOrElse((0L, 0L))

  /** Fraction of requested CPU that `threads` spinning threads obtained
    * over `ms` of wall time (about 1.0 on a quiet host). */
  def burnEfficiency(threads: Int, ms: Long = 300L): Double = {
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
    val got = new java.util.concurrent.atomic.AtomicLong(0L)
    val deadline = System.nanoTime() + ms * 1000000L
    val ts = (1 to threads).map { _ =>
      new Thread(() => {
        val c0 = bean.getCurrentThreadCpuTime
        var x = 0L
        while (System.nanoTime() < deadline) x += 1
        got.addAndGet(bean.getCurrentThreadCpuTime - c0 + (x & 1L))
        ()
      })
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start()); ts.foreach(_.join())
    got.get.toDouble / ((System.nanoTime() - t0).toDouble * threads)
  }

  final case class Sample(atNanos: Long, steal: Long, total: Long, burn: Double,
      load: String, psiCpu: String, psiMem: String, psiIo: String)

  def sample(threads: Int): Sample = {
    val burn = burnEfficiency(threads)
    val (st, tot) = cpuJiffies()
    Sample(System.nanoTime(), st, tot, burn, loadavg(), psi("cpu"), psi("memory"), psi("io"))
  }

  /** JSON object labelling the run from its start and end samples. */
  def label(a: Sample, b: Sample): String = {
    val stealFrac = if (b.total > a.total) (b.steal - a.steal).toDouble / (b.total - a.total) else 0.0
    def q(s: String) = "\"" + s + "\""
    Seq("steal_frac" -> f"$stealFrac%.4f", "burn_eff" -> q(f"${a.burn}%.3f/${b.burn}%.3f"),
      "loadavg" -> q(s"${a.load}>${b.load}"), "psi_cpu" -> q(s"${a.psiCpu}>${b.psiCpu}"),
      "psi_mem" -> q(s"${a.psiMem}>${b.psiMem}"), "psi_io" -> q(s"${a.psiIo}>${b.psiIo}"))
      .map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = read("/proc/self/status").flatMap(_.linesIterator
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)).getOrElse(0.0)
}
