package perfbench

/** Order statistics over latency samples. */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Samples that lie strictly beyond quantile `q`. */
  def beyond(xs: Seq[Double], q: Double): Int = {
    val v = quantile(xs, q)
    xs.count(_ > v)
  }

  /** Minimum samples a tail quantile needs. */
  val MinTail = 10

  /** The p95, but only from a sample set with at least [[MinTail]]
    * samples beyond it; fewer samples than that cannot place a p95.
    */
  def p95(xs: Seq[Double]): Option[Double] =
    if (xs.size < 2 || beyond(xs, 0.95) < MinTail) None else Some(quantile(xs, 0.95))
}

/** Open-loop arrival accounting for a schedule of batches: each batch
  * has a scheduled time, the time the generator actually landed it, and
  * the time its refresh completed. All times in ms from the first
  * scheduled arrival.
  */
object OpenLoop {
  final case class Batch(dueMs: Long, landedMs: Long, refreshedMs: Long)

  /** How late the generator landed each batch against its schedule. */
  def lateness(bs: Seq[Batch]): Seq[Long] = bs.map(b => math.max(0L, b.landedMs - b.dueMs))

  /** The most batches that were landed but not yet refreshed at any one
    * instant (landings count at their instant; a refresh at the same
    * instant counts first, since a batch cannot be refreshed before it
    * lands).
    */
  def backlogMax(bs: Seq[Batch]): Int = {
    val events = bs.flatMap(b => Seq((b.landedMs, 1), (b.refreshedMs, -1)))
      .sortBy { case (t, d) => (t, d) }
    events.foldLeft((0, 0)) { case ((cur, mx), (_, d)) =>
      val c = cur + d
      (c, math.max(mx, c))
    }._2
  }
}
