package perfbench

/** Order statistics and the derived ratios the report is built from.
  * Percentiles use the nearest-rank rule: the p-th percentile of n
  * samples is the ceil(p/100 * n)-th smallest, so every reported value
  * is one that was actually measured.
  */
object Stats {

  /** Samples that must lie beyond a tail percentile: with fewer, one
    * slow outlier decides its value.
    */
  val TailSamples = 10

  /** Samples a tail percentile needs: 1000 for p99, 100 for p90. */
  def minSamplesFor(p: Double): Int = math.ceil(TailSamples / (1 - p / 100.0) - 1e-9).toInt

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile must be in (0, 100], got $p")
    val sorted = xs.sorted
    val rank = math.ceil(p / 100.0 * sorted.size).toInt
    sorted(math.max(rank, 1) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** A tail percentile, refused when fewer than [[TailSamples]] samples
    * would lie beyond it.
    */
  def tail(xs: Seq[Double], p: Double): Double = {
    require(xs.size >= minSamplesFor(p),
      s"p$p needs at least ${minSamplesFor(p)} samples, got ${xs.size}")
    percentile(xs, p)
  }

  /** Total length of the union of `intervals`, each clipped to
    * [from, to]. Overlapping jobs (a commit's two tier writes run side
    * by side) are counted once.
    */
  def coveredMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Wall time of a call not covered by any Spark job it ran: planning,
    * driver-side rescoring, commit bookkeeping, file-system calls.
    */
  def driverMs(wallMs: Double, jobs: Seq[(Long, Long)], from: Long, to: Long): Double =
    math.max(0.0, wallMs - coveredMs(jobs, from, to))

  /** Share of the task slots kept busy over a window: executor run
    * time divided by wall time times slots.
    */
  def execBusyRatio(execRunMs: Double, wallMs: Double, slots: Int): Double =
    if (wallMs <= 0 || slots <= 0) 0.0 else execRunMs / (wallMs * slots)

  /** Serving-refresh cost a visibility probe pays on top of a steady
    * search.
    */
  def refreshMs(probeMs: Double, steadySearchMs: Double): Double =
    math.max(0.0, probeMs - steadySearchMs)
}
