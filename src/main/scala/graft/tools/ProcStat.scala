package graft.tools

/** The ONE parser of `/proc/stat`'s aggregate cpu line — Bench's per-query
  * contention telemetry and Profile's isolation-probe weather stamp both
  * read it, and two hand-rolled copies with different indexing conventions
  * is how a layout quirk gets fixed in one and not the other.
  *
  * Values are cumulative CPU-seconds since boot (USER_HZ = 100 assumed,
  * the Linux ABI constant for these fields). */
object ProcStat {

  /** (busyCpuSec, stealCpuSec), or (-1, -1) when unreadable (non-Linux).
    *
    * `busy` excludes idle/iowait (not work) AND guest/guest_nice: the
    * kernel folds guest time into user/nice already, so counting fields
    * 8–9 would double-count a sibling process's nested-VM load. `steal`
    * is CPU the hypervisor ran someone else with while this guest had
    * runnable work — invisible to process-level accounting (stolen slices
    * are charged to the running process's utime/stime). */
  def busyAndStealSec(): (Double, Double) =
    try {
      val line = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0)
      // drop the "cpu" label; fields: user nice system idle iowait irq
      // softirq steal guest guest_nice
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      val busy = f.zipWithIndex.collect {
        case (v, i) if i != 3 && i != 4 && i != 8 && i != 9 => v }.sum
      val steal = if (f.length > 7) f(7) else 0L
      (busy / 100.0, steal / 100.0)
    } catch { case _: Throwable => (-1.0, -1.0) }

  /** Steal seconds alone, or -1 when unreadable. */
  def stealSec(): Double = busyAndStealSec()._2
}
