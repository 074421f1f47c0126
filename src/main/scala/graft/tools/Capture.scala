package graft.tools

/** Capture-hygiene helpers shared by `Bench`, `AnnProbe`,
  * `StreamThroughputProbe` and perfbench's `Main`.
  *
  * The r10 verdict flagged several headline captures taken at host
  * load 14–30 (PREFIX_AB at 16.2, ANNPROBE_VEC2M at 29.2): each
  * artifact carried its load_avg so the degradation was discoverable,
  * but nothing FORCED the reader to notice. Every probe JSON now leads
  * with an explicit `degraded` flag so SURVEY cannot cite a hot
  * capture without saying so.
  */
object Capture {

  /** A capture above this 1-min load average cannot pin sub-2×
    * timing distinctions on this 32-core box: the r10 series showed
    * fixed-arm spreads of 3+ at load 16 while load < 8 captures held
    * spreads under ~1.3. Override via SPARK_GRAFT_LOAD_LIMIT for
    * boxes with different core counts.
    */
  val LoadLimit: Double =
    sys.env.get("SPARK_GRAFT_LOAD_LIMIT").map(_.toDouble).getOrElse(8.0)

  /** The load average to test is the one SAMPLED BEFORE the measured
    * work started — the tool's own executors drive the 1-min average
    * far above any limit by the time it finishes. Callers sample at
    * entry and pass that value here when emitting.
    */
  def degraded(loadAvgAtStart: Double): Boolean = loadAvgAtStart > LoadLimit

  def loadAvg(): Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
}
