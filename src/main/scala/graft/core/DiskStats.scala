package graft.core

/** Machine-level disk-read counter for I/O-attributing timed passes.
  *
  * Why it exists (VERDICT r12 "What's wrong #3"): wall-clock rows that
  * stream multi-GB staged tables swing multiples with PAGE-CACHE state —
  * a bench run recorded minutes after a cache-rotating probe session
  * carried a 2.4× phantom regression on a plan that bisected flat. Deltas
  * of this counter around each timed pass make a polluted row
  * self-identify in the committed record: a pass whose read-bytes
  * collapse to ~0 ran against a primed cache; a pass reading the table's
  * full size from disk explains its own wall-clock.
  */
object DiskStats {

  /** Σ sectors_read × 512 over whole block devices in `/proc/diskstats`.
    * Partition rows (names ending in a digit) are skipped — they would
    * double-count their parent device; loop/ram devices are noise.
    * Returns -1 where the file is unreadable (non-Linux), so callers can
    * record "unattributed" instead of crashing. */
  def readBytes(): Long =
    scala.util.Try {
      scala.io.Source.fromFile("/proc/diskstats").getLines()
        .map(_.trim.split("\\s+"))
        .filter(f => f.length > 5 && f(2).matches("[a-z]+") &&
          !f(2).startsWith("loop") && !f(2).startsWith("ram"))
        .map(f => f(5).toLong * 512L)
        .sum
    }.getOrElse(-1L)

  /** Machine-wide CPU jiffies from `/proc/stat`'s aggregate `cpu` line,
    * split into (busy, iowait+steal). Busy = user+nice+system+irq+softirq
    * — guest/guest_nice are deliberately EXCLUDED: the kernel already
    * accounts guest time inside user/nice, so adding fields 8/9 would
    * double-count it and inflate the foreign-CPU channel on any host
    * running VMs (the misattribution this channel exists to prevent).
    * Steal is not busy work on this machine either — it rides the second
    * element with iowait, where a hypervisor co-tenant shows up.
    * Returns (-1,-1) where unreadable.
    *
    * Why (VERDICT r15 "what's wrong #1"): the r15 record carried 30-40 s
    * release passes with ZERO read-bytes — CPU/memory contention that the
    * disk channel cannot see. The foreign-CPU delta (machine busy minus
    * this JVM's own CPU) makes a co-tenant burst self-identify in the
    * committed record the same way read-bytes identifies a cold cache. */
  def machineCpuJiffies(): (Long, Long) =
    scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
      // fields: user nice system idle iowait irq softirq steal guest gnice
      def at(i: Int) = if (f.length > i) f(i) else 0L
      val busy = at(0) + at(1) + at(2) + at(5) + at(6)
      val iowaitSteal = at(4) + at(7)
      (busy, iowaitSteal)
    }.getOrElse((-1L, -1L))

  /** This process's own CPU jiffies (utime+stime+cutime+cstime from
    * `/proc/self/stat`). Parsed from after the last ')' — the comm field
    * may contain spaces. Reaped-child CPU (cutime/cstime, fields 16/17)
    * counts as "our own" work (ADVICE r16): without it, any subprocess a
    * timed pass spawns would inflate the foreign-CPU attribution channel
    * — the exact misattribution the channel exists to prevent. Caveat
    * (r17 review): the kernel credits cutime/cstime only when the child
    * is REAPED, so a child whose lifetime spans pass boundaries still
    * distorts two windows (its running pass over-reports foreign, its
    * reaping pass's self-delta jumps and the clamp floors foreign at 0).
    * Bench itself spawns no subprocesses, so today this is a documented
    * edge, not an active error; a caller that does spawn per-pass
    * children should reap them inside the same pass. */
  def selfCpuJiffies(): Long =
    scala.util.Try {
      val line = scala.io.Source.fromFile("/proc/self/stat").mkString
      val rest = line.substring(line.lastIndexOf(')') + 2).split("\\s+")
      // rest(0) = state; utime/stime/cutime/cstime are fields 14-17 of
      // the full line = rest(11)..rest(14)
      rest(11).toLong + rest(12).toLong + rest(13).toLong + rest(14).toLong
    }.getOrElse(-1L)

  /** Dirty + Writeback bytes from `/proc/meminfo` — pending page-cache
    * writeback. A bench chained right behind a heavy write phase (the
    * driver runs Bench immediately after the correctness gate's store
    * writes) starts while the kernel is still flushing those pages; the
    * flush competes with the timed passes' reads for the device/host IO
    * budget. Returns -1 where unreadable. */
  def dirtyWritebackBytes(): Long =
    scala.util.Try {
      scala.io.Source.fromFile("/proc/meminfo").getLines()
        .filter(l => l.startsWith("Dirty:") || l.startsWith("Writeback:"))
        .map(_.split("\\s+")(1).toLong * 1024L)
        .sum
    }.getOrElse(-1L)

  /** 1-minute load average, or -1 where unreadable. */
  def loadAvg1(): Double =
    scala.util.Try {
      scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+")(0).toDouble
    }.getOrElse(-1.0)
}
