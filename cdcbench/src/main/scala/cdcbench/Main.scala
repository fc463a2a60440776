package cdcbench

import graft.streaming.CdcStream

/** Fixed sizes of both workloads. `--seconds` scales only the timed window. */
object Cfg {
  val Cores = 4
  /** Topic partitions: the source's read and decode parallelism. */
  val Partitions = 4
  val InitialKeys = 12000
  /** The program's own sizing rule for the initial row count (8). */
  val Buckets: Int = CdcStream.adaptiveBuckets(InitialKeys.toLong)
  val Topic = "dbserver1.inventory.customers"

  /** The source's `maxOffsetsPerTrigger`: the catch-up batch size. */
  val Cap = 12000
  /** Measured catch-up batches per `--seconds`. The backlog holds
    * `WarmCatchupBatches` caps more, drained in set-up after the cold first
    * batch and not measured. */
  val CatchupBatchesPerSecond = 0.25
  val WarmCatchupBatches = 3
  /** Single-change batches, each appended after the previous commits, that
    * warm the per-batch driver path before the trickle is timed. */
  val WarmTrickleChanges = 4
  /** Open-loop trickle: one change per period for `--seconds`. The period
    * exceeds the sink's single-change batch time, so each change normally
    * meets an idle consumer and lands in a batch of its own. */
  def TricklePeriodMs(history: Boolean): Double = if (history) 2000.0 else 1000.0
  /** Lookups per `--seconds`, and in the warm-up. */
  val LookupsPerSecond = 2.0
  val WarmLookups = 15

  /** Open-loop validity: generator lateness limits and the allowed growth of
    * the consumer's lag over the trickle phase, in seconds of offered load. */
  val LatenessP99LimitMs = 50.0
  val LatenessMaxLimitMs = 500.0
  val LagGrowthLimitSeconds = 2.0
}

object Main {
  val Workloads = Seq("cdc_stream", "cdc_history_read")

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, launchMs: Long, work: String, heapMb: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val w = get("--workload")
    require(Workloads.contains(w), s"unknown workload $w")
    Args(w, get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", get("--launch-ms").toLong, get("--work"),
      get("--heap-mb").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val run = new Run(parse(argv), mainMs)
    val code =
      try { run.execute(); 0 }
      catch { case t: Throwable => t.printStackTrace(); 1 }
      finally run.close()
    System.exit(code)
  }
}
