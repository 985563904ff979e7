package graft

import scala.util.control.NonFatal

/** Effective CPU budget for the `local[N]` sessions of every runnable main
  * (optimization guide §2: size parallelism to the hardware actually
  * granted, not to a constant).
  *
  * `$SPARK_GRAFT_CPUS` stays the driver contract — when set it is honored
  * verbatim up to the container's effective CPU budget. But `local[N]`
  * with N far above the cgroup CPU quota (or the visible processor count)
  * oversubscribes the OS scheduler: N executor threads time-slice a
  * smaller budget, every task's wall time inflates, and CPU-bound queries
  * degrade the most — the signature of the anomalous round-17 official
  * 32-core bench (12-20x blowups on vector queries whose code and plans
  * were unchanged, while the same tree at 8 cores timed normally). The
  * round-17 verdict (item 1) directs: detect the budget and clamp, as a
  * harness-bug fix, not a perf tweak.
  *
  * The clamp NEVER raises the requested count, so the driver's low-core
  * scaling run (`SPARK_GRAFT_CPUS=8`) is untouched, and on an unquota'd
  * box with all processors visible (this sandbox: 32 CPUs, cfs_quota -1)
  * the behavior is bit-identical to rounds 1-17.
  */
object Cpus {

  private def readFirstLine(p: String): Option[String] =
    try {
      val path = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.isReadable(path)) {
        val lines = java.nio.file.Files.readAllLines(path)
        if (lines.isEmpty) None else Option(lines.get(0)).map(_.trim)
      } else None
    } catch { case NonFatal(_) => None }

  private def toLong(s: String): Option[Long] =
    try Some(s.toLong) catch { case NonFatal(_) => None }

  /** cgroup CPU quota in whole cores (ceil), when one is set: cgroup v2
    * `cpu.max` ("25000 100000" → 1; "max 100000" → none), else cgroup v1
    * `cpu.cfs_quota_us` / `cpu.cfs_period_us` (-1 → none). */
  def cgroupQuotaCores(): Option[Int] = {
    val v2 = readFirstLine("/sys/fs/cgroup/cpu.max").flatMap { l =>
      l.split("\\s+") match {
        case Array(q, p) if q != "max" =>
          for (qi <- toLong(q); pi <- toLong(p); if qi > 0 && pi > 0)
            yield math.max(1L, (qi + pi - 1) / pi).toInt
        case _ => None
      }
    }
    v2.orElse {
      for {
        q <- readFirstLine("/sys/fs/cgroup/cpu/cpu.cfs_quota_us").flatMap(toLong)
        p <- readFirstLine("/sys/fs/cgroup/cpu/cpu.cfs_period_us").flatMap(toLong)
        if q > 0 && p > 0
      } yield math.max(1L, (q + p - 1) / p).toInt
    }
  }

  /** The core count a `local[N]` session should use: `$SPARK_GRAFT_CPUS`
    * (default: all visible processors), clamped to the smaller of the
    * cgroup quota and the JVM's container-aware processor count. Logs to
    * stderr when the clamp actually fires so the bench tail records it. */
  def effective(): Int = {
    val avail = Runtime.getRuntime.availableProcessors()
    val requested = sys.env.get("SPARK_GRAFT_CPUS")
      .flatMap(s => toLong(s.trim).map(_.toInt)).filter(_ > 0)
      .getOrElse(avail)
    val budget = math.min(cgroupQuotaCores().getOrElse(Int.MaxValue), avail)
    val eff = math.max(1, math.min(requested, budget))
    if (eff < requested)
      System.err.println(
        s"[graft] SPARK_GRAFT_CPUS=$requested exceeds the effective CPU " +
          s"budget (cgroup quota ${cgroupQuotaCores().getOrElse(-1)}, " +
          s"visible processors $avail); clamping local[$requested] -> local[$eff]")
    eff
  }

  /** [[effective]] as the string the session builder splices into
    * `local[...]` and `spark.sql.shuffle.partitions`. */
  def effectiveStr(): String = effective().toString
}
