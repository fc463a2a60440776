package cdcbench

/** The benchmark's own arithmetic: percentiles, the offset-to-batch map
  * and span self time. Pure functions, tested in `StatsSpec`. */
object Stats {

  /** Nearest-rank percentile `p` (0 < p <= 100) of `xs`: the sample at
    * rank ceil(p/100 * n) of the sorted samples. It is reported only when
    * at least `minAbove` samples lie above that rank, so a p95 needs about
    * 20 * minAbove samples and one outlier cannot be the whole tail. */
  def percentile(xs: Seq[Double], p: Double, minAbove: Int): Option[Double] = {
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val n = xs.size
    if (n == 0) None
    else {
      val rank = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)
      if (n - rank < minAbove) None
      else Some(xs.sorted.apply(rank - 1))
    }
  }

  /** Median as the nearest-rank p50 with one sample required above it. */
  def median(xs: Seq[Double]): Option[Double] = percentile(xs, 50, 1)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** A committed micro-batch: its id, the wall-clock time its commit ended
    * and its end offsets (next unread offset per topic partition). */
  final case class Committed(batchId: Long, endMs: Double,
      end: Map[Int, Long])

  /** The first committed batch whose end offsets cover record `offset` of
    * `partition` (end offsets are exclusive). `batches` must be in commit
    * order; end offsets never decrease along it, so the search is binary. */
  def committingBatch(batches: IndexedSeq[Committed], partition: Int,
      offset: Long): Option[Committed] = {
    def covers(b: Committed) = b.end.getOrElse(partition, 0L) > offset
    var lo = 0
    var hi = batches.length // first covering index lies in [lo, hi]
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (covers(batches(mid))) hi = mid else lo = mid + 1
    }
    if (lo < batches.length) Some(batches(lo)) else None
  }

  /** A timed interval of one layer. `parent` is -1 for a root. */
  final case class Span(id: Int, parent: Int, name: String, layer: String,
      startNs: Long, endNs: Long) {
    def durNs: Long = math.max(0L, endNs - startNs)
  }

  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of it that its
    * children cover (children may overlap each other and may run past
    * their parent; only the covered part inside the parent counts). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> (s.durNs - covered(ivs, s.startNs, s.endNs))
    }.toMap
  }

  /** Self time summed per layer. */
  def layerSelfTimes(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }
}
