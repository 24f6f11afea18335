package perfbench

/** Percentiles and the open-loop freshness attribution. */
object Stats {

  /** Linear-interpolated percentile `p` (0-100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest percentile of the ladder that has at least ten samples
    * beyond it, or None when even the 75th has fewer.
    */
  def tailPercentile(n: Int,
      ladder: Seq[Double] = Seq(99.9, 99, 95, 90, 75)): Option[Double] =
    ladder.find(p => n * (100 - p) / 100 >= 10 - 1e-9)

  /** Metric-name fragment for a percentile: 95 -> "p95", 99.9 -> "p99.9". */
  def pname(p: Double): String =
    if (p == math.rint(p)) s"p${p.toInt}" else s"p$p"

  /** One streaming micro-batch as its progress reports it. */
  final case class Batch(startMs: Long, durationMs: Long, numInputRows: Long) {
    def commitMs: Long = startMs + durationMs
  }

  /** Commit time of the micro-batch that contains each of `files` files of
    * `rowsPerFile` rows, dropped in order. The file source consumes files
    * in arrival order, so file i is complete once the batches' cumulative
    * input rows reach (i + 1) * rowsPerFile. -1 marks a file no reported
    * batch covers.
    */
  def commitOfFiles(rowsPerFile: Long, files: Int,
      batches: Seq[Batch]): Array[Long] = {
    val out = Array.fill(files)(-1L)
    var cum = 0L
    var next = 0
    for (b <- batches) {
      cum += b.numInputRows
      while (next < files && cum >= (next + 1L) * rowsPerFile) {
        out(next) = b.commitMs
        next += 1
      }
    }
    out
  }

  /** Largest number of dropped but unconsumed files seen when a batch
    * starts.
    */
  def backlogMax(rowsPerFile: Long, dropMs: Seq[Long],
      batches: Seq[Batch]): Long = {
    var cum = 0L
    var worst = 0L
    for (b <- batches) {
      val dropped = dropMs.count(_ <= b.startMs).toLong
      worst = math.max(worst, dropped - cum / rowsPerFile)
      cum += b.numInputRows
    }
    worst
  }
}
