package cdcbench

import java.io.File
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.GraftCdcLog
import graft.streaming.{BucketManifest, CdcStream, DualSink, TableGroup}

/** One lookup: its plan and execution times, the files its scan read
  * against the table's live files, and whether its answer was right. */
final case class Lookup(kind: String, key: Long, planMs: Double,
    execMs: Double, files: Int, liveFiles: Int, ok: Boolean) {
  def ms: Double = planMs + execMs
}

/** One benchmark run of one workload: set up, then a timed window of three
  * measured phases (catch-up drain, open-loop trickle, lookups), each after
  * its own warm-up, then the check of the replica against the generator's
  * model. */
final class Run(a: Main.Args, mainMs: Long) {
  import Cfg._
  import Stats.Span

  private val logRoot = s"${a.work}/log"
  private val tableDir = s"${a.work}/table"
  private val ckDir = s"${a.work}/checkpoint"
  /** `cdc_history_read` runs the graft-table sink (snapshot + history);
    * `cdc_stream` runs `CdcStream.runBucketed`. */
  private val isHistory = a.workload == "cdc_history_read"

  // ---- clock and spans: wall-clock nanoseconds, so the benchmark's own
  // spans line up with Spark's millisecond event times
  private val wall0Ms = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def nowNs: Long = wall0Ms * 1000000L + (System.nanoTime() - nano0)
  private def nowMs: Double = nowNs / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private def addSpan(parent: Int, name: String, layer: String, s: Long,
      e: Long): Int = spans.synchronized {
    val id = spans.size; spans += Span(id, parent, name, layer, s, e); id
  }
  private def endSpan(id: Int): Unit =
    spans.synchronized(spans(id) = spans(id).copy(endNs = nowNs))
  private def timed[A](parent: Int, name: String, layer: String)(f: => A): A = {
    val s = nowNs
    try f finally addSpan(parent, name, layer, s, nowNs)
  }
  private val root = addSpan(-1, "run", "bench", a.launchMs * 1000000L, 0L)
  private def say(s: String): Unit = println(s)

  // ---- program under test
  private val spark: SparkSession = {
    new File(a.work).mkdirs()
    addSpan(root, "setup.jvm", "setup", a.launchMs * 1000000L, mainMs * 1000000L)
    timed(root, "setup.session", "setup") {
      val s = SparkSession.builder()
        .withExtensions(new graft.GraftExtensions)
        .master(s"local[$Cores]")
        .appName("cdcbench")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", Cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
        .config("spark.local.dir", s"${a.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
        .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
  }
  private val probe = new Probe
  spark.sparkContext.addSparkListener(probe)
  spark.streams.addListener(probe.streaming)
  private val jvm = new JvmProbe

  // ---- generator: the bench's own model, and where each change landed
  private val gen = new Gen(a.seed, InitialKeys)
  private val partCount = new Array[Long](Partitions)
  private var bytesAppended = 0L
  private var eventsAppended = 0L
  /** Trickle changes: partition, offset, due time, and when they became
    * visible in the log (ms). */
  private val tPart = mutable.ArrayBuffer.empty[Int]
  private val tOff = mutable.ArrayBuffer.empty[Long]
  private val tDue = mutable.ArrayBuffer.empty[Double]
  private val tVisible = mutable.ArrayBuffer.empty[Double]
  private val lateness = mutable.ArrayBuffer.empty[Double]
  private var recording = false
  private var producerParent = root

  (0 until Partitions).foreach(p => GraftCdcLog.append(logRoot, Topic, p, Nil))

  private def partitionOf(c: Change): Int = (c.id % Partitions).toInt

  /** Append changes back to back, one `GraftCdcLog.append` per partition. */
  private def appendAll(cs: Seq[Change], dueMs: Option[Double]): Unit = {
    val byPart = cs.map(c => (c, gen.render(c))).groupBy(x => partitionOf(x._1))
    val s = nowNs
    val starts = partCount.clone()
    byPart.toSeq.sortBy(_._1).foreach { case (p, xs) =>
      val lines = xs.map(_._2)
      GraftCdcLog.append(logRoot, Topic, p, lines)
      partCount(p) += lines.size
      bytesAppended += lines.iterator.map(_.length + 1L).sum
    }
    eventsAppended += cs.size
    val e = nowNs
    addSpan(producerParent, "produce", "sources", s, e)
    if (recording) byPart.foreach { case (p, xs) =>
      xs.indices.foreach { i =>
        tPart += p; tOff += starts(p) + i
        tDue += dueMs.getOrElse(e / 1e6); tVisible += e / 1e6
      }
    }
  }

  /** Set-up's log: changes with their `before` versions, rendered and
    * appended by one thread per partition, in order within each. */
  private def appendInSetup(cs: IndexedSeq[(Change, Long)]): Unit = {
    val s = nowNs
    val threads = cs.groupBy(x => partitionOf(x._1)).toSeq.map { case (p, xs) =>
      val t = new Thread(() => xs.grouped(10000).foreach { chunk =>
        val lines = chunk.map { case (c, before) => gen.render(c, before) }
        GraftCdcLog.append(logRoot, Topic, p, lines)
        synchronized(bytesAppended += lines.iterator.map(_.length + 1L).sum)
      }, s"cdcbench-append-$p")
      partCount(p) += xs.size
      t.start(); t
    }
    threads.foreach(_.join())
    eventsAppended += cs.size
    addSpan(producerParent, "produce", "sources", s, nowNs)
  }

  private val periodMs = TricklePeriodMs(isHistory)

  /** Open loop: one change every `periodMs` for `seconds`, each stamped with
    * its due time on the schedule. */
  private def trickle(seconds: Double): Unit = {
    val n = math.round(seconds * 1000.0 / periodMs).toInt
    val t0 = nowNs
    var k = 0
    while (k < n) {
      val dueNs = t0 + (k * periodMs * 1e6).toLong
      var w = dueNs - nowNs
      while (w > 0) { LockSupport.parkNanos(w); w = dueNs - nowNs }
      if (recording) lateness += (nowNs - dueNs) / 1e6
      appendAll(Seq(gen.next()), Some(dueNs / 1e6))
      k += 1
    }
  }

  private def logEnd: Map[Int, Long] =
    partCount.indices.map(p => p -> partCount(p)).toMap

  private var query: StreamingQuery = _
  private def batches: IndexedSeq[BatchProgress] = probe.batchesOf(query.id.toString)

  /** Wait until a committed batch satisfies `done`; its id. */
  private def await(what: String)(done: BatchProgress => Boolean): Long = {
    val deadline = System.currentTimeMillis() + 120000L
    def last = batches.lastOption
    while (!last.exists(done)) {
      query.exception.foreach(e => throw e)
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"query did not reach $what")
      Thread.sleep(2)
    }
    last.get.batchId
  }

  /** Wait until the query has committed everything appended so far; the
    * id of the last batch. */
  private def drain(): Long = {
    val target = logEnd
    await(target.toString)(b => target.forall { case (p, o) => b.end.getOrElse(p, 0L) >= o })
  }

  /** The workload's query: the `graft-cdc` source capped at `Cap` records
    * per batch, into the workload's sink, triggering back to back. */
  private def start(): StreamingQuery = {
    val src = spark.readStream.format("graft-cdc")
      .options(CdcStream.kafkaOptions(logRoot, Topic))
      .option("maxOffsetsPerTrigger", Cap.toString)
      .load()
    val trigger = Trigger.ProcessingTime(0L)
    if (!isHistory)
      CdcStream.runBucketed(src.select(col("value").cast("string").as("value")),
        tableDir, ckDir, Buckets, trigger)
    else src.writeStream.format("graft-table")
      .option("path", tableDir)
      .option("checkpointLocation", ckDir)
      .option("nBuckets", Buckets.toString)
      .trigger(trigger)
      .start()
  }

  // ---- lookups
  private val lookupRnd = new java.util.Random(a.seed * 31L + 7L)
  private val RowCols = "id, name, nationkey, acctbal, mktsegment"
  private def toRow(r: org.apache.spark.sql.Row) = Row(r.getLong(0),
    r.getString(1), r.getInt(2), r.getDouble(3), r.getString(4))
  private def toVersion(r: org.apache.spark.sql.Row) = Version(toRow(r),
    r.getLong(5), if (r.isNullAt(6)) None else Some(r.getLong(6)))

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case ad: AdaptiveSparkPlanExec => leaves(ad.executedPlan)
    case st: QueryStageExec => leaves(st.plan)
    case x if x.children.isEmpty => Seq(x)
    case x => x.children.flatMap(leaves)
  }
  private def rddFiles(rdd: RDD[_]): Set[String] = rdd match {
    case f: FileScanRDD =>
      f.filePartitions.flatMap(_.files.map(_.filePath.toString)).toSet
    case r => r.dependencies.flatMap(d => rddFiles(d.rdd)).toSet
  }
  /** Files the executed plan's scans read: parquet scan nodes directly, and
    * the connector's V1 scan through its RDD lineage. */
  private def filesRead(plan: SparkPlan): Int = leaves(plan).flatMap {
    case s: FileSourceScanExec => s.inputRDDs().flatMap(rddFiles)
    case r: RowDataSourceScanExec => rddFiles(r.rdd).toSeq
    case _ => Nil
  }.distinct.size

  private def liveFiles(table: String): Int =
    if (!isHistory) BucketManifest.read(tableDir).map(_.values.map(_.size).sum).getOrElse(0)
    else TableGroup.currentTxn(tableDir).flatMap(TableGroup.groupManifest(tableDir, _))
      .flatMap(_.get(table)).map(_.values.map(_.size).sum).getOrElse(0)

  /** One keyed lookup, from SQL text submitted to rows collected: the
    * latest row of a key, or (history workload) all its versions. Keys are
    * uniform over every id ever inserted. */
  private def lookup(i: Int, kind: String, parent: Int): Lookup = {
    val key = 1L + lookupRnd.nextInt(gen.maxId.toInt)
    val sc = spark.sparkContext
    sc.setLocalProperty(probe.LookupProperty, s"$i")
    try {
      val span = addSpan(parent, s"lookup.$kind", "table_scan", nowNs, 0L)
      val s0 = nowNs
      val (df, plan) = timed(span, "plan", "table_scan") {
        val df = kind match {
          case "latest" if !isHistory =>
            CdcStream.readSnapshotBucketed(spark, tableDir).get
              .createOrReplaceTempView("replica")
            spark.sql(s"SELECT $RowCols FROM replica WHERE id = $key")
          case "latest" => spark.sql(
            s"SELECT $RowCols FROM graft.`$tableDir`.snapshot WHERE id = $key")
          case _ => spark.sql(s"SELECT $RowCols, valid_from, valid_to, " +
            s"is_current FROM graft.`$tableDir`.history WHERE id = $key")
        }
        (df, df.queryExecution.executedPlan)
      }
      val s1 = nowNs
      val rows = timed(span, "exec", "table_scan")(df.collect().toSeq)
      val s2 = nowNs
      endSpan(span)
      val ok = kind match {
        case "latest" => rows.map(toRow) == gen.expectedRow(key).toSeq
        case _ =>
          rows.map(toVersion).toSet == gen.expectedHistory(key).toSet &&
            rows.size == gen.expectedHistory(key).size &&
            rows.forall(r => r.getBoolean(7) == r.isNullAt(6))
      }
      Lookup(kind, key, (s1 - s0) / 1e6, (s2 - s1) / 1e6, filesRead(plan),
        liveFiles(if (kind == "history") "history" else "snapshot"), ok)
    } finally sc.setLocalProperty(probe.LookupProperty, null)
  }

  /** Lookup kinds in order: the history workload interleaves one
    * all-versions lookup after every two latest-row lookups. */
  private def lookupKinds(n: Int): Seq[String] =
    (0 until n).map(i => if (isHistory && i % 3 == 2) "history" else "latest")

  // ---- verification against the model
  private var historyRows = 0L

  /** Keys whose final replica (and history) disagree with the model. */
  private def verify(): Int = {
    val cols = RowCols.split(", ").toIndexedSeq
    val snap =
      if (isHistory) DualSink.readSnapshot(spark, tableDir)
      else CdcStream.readSnapshotBucketed(spark, tableDir)
    val byId = snap.get.selectExpr(cols: _*).collect().map(toRow).groupBy(_.id)
    var bad = byId.count { case (id, rs) =>
      rs.length != 1 || !gen.expectedRow(id).contains(rs.head) }
    bad += gen.liveIds.count(id => !byId.contains(id))
    if (isHistory) {
      val hist = DualSink.readHistory(spark, tableDir).get
        .selectExpr(cols ++ Seq("valid_from", "valid_to", "is_current"): _*).collect()
      historyRows = hist.length
      val hById = hist.groupBy(_.getLong(0))
      bad += (hById.keySet ++ gen.everInserted).count { id =>
        val rs = hById.getOrElse(id, Array.empty)
        val expected = gen.expectedHistory(id)
        rs.length != expected.size || rs.map(toVersion).toSet != expected.toSet ||
          !rs.forall(r => r.getBoolean(7) == r.isNullAt(6))
      }
    }
    bad
  }

  // ---- the run
  private def phaseTotals: Map[String, (Double, Long)] =
    graft.Phase.report().map { case (n, s, c) => n -> (s, c) }.toMap

  /** Busy, stolen and total CPU jiffies of the host, from /proc/stat. */
  private def cpuTicks: (Long, Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (f.sum - f(3) - f(4), f(7), f.sum)
    } finally src.close()
  }

  /** Phase boundaries: batch ids, `graft.Phase` totals and times. */
  private var setupBatch, catchupBatch, warmTrickleBatch, trickleBatch = -1L
  private var phasesAtStart, phasesAfterCatchup, phasesBeforeTrickle,
    phasesAfterTrickle = Map.empty[String, (Double, Long)]
  private var windowStartMs, trickleStartMs, trickleLoopEndMs, catchupEndMs,
    windowEndMs = 0.0
  private var eventsBeforeTrickle = 0L
  private var cpu0, cpu1 = (0L, 0L, 0L)
  private var gc0 = 0L
  private var lookups, warmLookups = Seq.empty[Lookup]
  private val nCatchup = math.max(3, math.round(a.seconds * CatchupBatchesPerSecond).toInt)

  def execute(): Unit = {
    setup()
    phasesAtStart = phaseTotals
    gc0 = jvm.gcMs
    jvm.resetPeak()
    cpu0 = cpuTicks
    windowStartMs = nowMs
    val window = addSpan(root, "window", "bench", nowNs, 0L)
    producerParent = window

    // catch-up: the rest of the backlog, drained in capped batches (closed
    // loop)
    catchupBatch = drain()
    catchupEndMs = nowMs
    phasesAfterCatchup = phaseTotals

    // trickle warm-up: single-change batches, each appended after the
    // previous one commits, so the per-batch driver path is compiled again
    // after the switch from full batches; not measured
    (0 until WarmTrickleChanges).foreach { _ =>
      appendAll(Seq(gen.next()), None); drain() }
    warmTrickleBatch = batches.last.batchId
    phasesBeforeTrickle = phaseTotals

    // trickle: sparse single-row changes on a schedule (open loop)
    if (a.trace) { manifest.start(); probe.onProgress = _ => manifest.onBatch() }
    eventsBeforeTrickle = eventsAppended
    recording = true
    trickleStartMs = nowMs
    trickle(a.seconds.toDouble)
    trickleLoopEndMs = nowMs
    trickleBatch = drain()
    recording = false
    probe.onProgress = _ => ()
    phasesAfterTrickle = phaseTotals
    query.stop()

    // reads, with the writer stopped: a few unmeasured lookups warm the
    // read path, then the measured ones
    warmLookups = lookupKinds(WarmLookups).zipWithIndex.map { case (k, i) =>
      lookup(-1 - i, k, window) }
    lookups = lookupKinds(math.round(a.seconds * LookupsPerSecond).toInt)
      .zipWithIndex.map { case (k, i) => lookup(i, k, window) }
    windowEndMs = nowMs
    cpu1 = cpuTicks
    endSpan(window)
    report()
  }

  private def setup(): Unit = {
    timed(root, "setup.initial_load", "setup") {
      // the snapshot and the whole catch-up backlog are in the log before
      // the query starts, so every batch of the drain is a full cap read
      // from all partitions; the first batch is the cold one
      val snapshot = gen.snapshot().map(c => (c, -1L))
      val changes = (0 until (WarmCatchupBatches + nCatchup) * Cap).map { _ =>
        val c = gen.next(); (c, gen.beforeVersion(c)) }
      appendInSetup(snapshot ++ changes)
      query = start()
      await("the first batch")(_ => true)
    }
    timed(root, "setup.warmup", "setup") {
      // more batches of the catch-up shape, so merge-path JIT lands here
      setupBatch = await(s"batch $WarmCatchupBatches")(_.batchId >= WarmCatchupBatches)
    }
  }

  private def need(name: String, v: Option[Double]): Double = v.getOrElse(
    throw new IllegalStateException(s"too few samples for $name"))

  private def report(): Unit = {
    val all = batches
    val catchup = all.filter(b => b.batchId > setupBatch && b.batchId <= catchupBatch)
    val trickleB = all.filter(b => b.batchId > warmTrickleBatch && b.batchId <= trickleBatch)

    // freshness: due time -> end of the first batch whose committed end
    // offsets cover the change
    val committed = trickleB.map(b => Stats.Committed(b.batchId, b.endMs.toDouble, b.end))
    val fresh = tPart.indices.map { i =>
      Stats.committingBatch(committed, tPart(i), tOff(i)).map(_.endMs - tDue(i))
        .getOrElse(throw new IllegalStateException(
          s"change at ${tPart(i)}:${tOff(i)} was never committed"))
    }
    // full batches only: one that started while set-up was still appending
    // holds less than a cap and would mix in its fixed cost
    val perBatchRate = catchup.filter(_.rows == Cap)
      .map(b => b.rows * 1000.0 / math.max(1L, b.wallMs))
    val latest = lookups.filter(_.kind == "latest")
    val hist = lookups.filter(_.kind == "history")

    val failedChanges = verify()
    val failedLookups = (warmLookups ++ lookups).count(!_.ok)
    // every change the generator made, snapshot rows included, is checked
    // in the final replica; every lookup's answer is checked
    val attempted = eventsAppended + warmLookups.size + lookups.size
    val failed = failedChanges + failedLookups

    // open-loop validity: generator lateness, and lag growth (log end at
    // each batch's commit minus its committed end)
    def appendedBy(t: Double): Long = {
      var lo = 0; var hi = tVisible.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (tVisible(m) <= t) lo = m + 1 else hi = m }
      eventsBeforeTrickle + lo
    }
    val lag = trickleB.map(b => (appendedBy(b.endMs.toDouble) - b.end.values.sum).toDouble)
    val inLoop = trickleB.indices.filter(i => trickleB(i).endMs <= trickleLoopEndMs)
    val q = math.max(1, inLoop.size / 4)
    val lagGrowth =
      if (inLoop.size < 4) 0.0
      else Stats.mean(inLoop.takeRight(q).map(lag)) - Stats.mean(inLoop.take(q).map(lag))
    val lateP99 = Stats.percentile(lateness.toSeq, 99, 0).getOrElse(0.0)
    val lateMax = if (lateness.isEmpty) 0.0 else lateness.max
    val lagLimit = LagGrowthLimitSeconds * 1000.0 / periodMs
    val valid = lateP99 <= LatenessP99LimitMs && lateMax <= LatenessMaxLimitMs &&
      lagGrowth <= lagLimit

    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> ((windowStartMs - a.launchMs) / 1000.0, "s"),
      "peak_rss_mb" -> (jvm.peakRssMb, "MB"),
      "catchup_events_per_s" -> (need("catchup_events_per_s", Stats.median(perBatchRate)), "ev/s"),
      "freshness_p50_ms" -> (need("freshness_p50_ms", Stats.median(fresh)), "ms"),
      "read_p50_ms" -> (need("read_p50_ms", Stats.median(latest.map(_.ms))), "ms"))

    def pct(xs: Seq[Double], p: Double) =
      Stats.percentile(xs, p, 5).map(v => f"$v%.1f").getOrElse("n/a (too few samples)")
    val (busy, steal) = {
      val t = math.max(1L, cpu1._3 - cpu0._3).toDouble
      (100.0 * (cpu1._1 - cpu0._1) / t, 100.0 * (cpu1._2 - cpu0._2) / t)
    }
    say(s"workload ${a.workload} seed ${a.seed} seconds ${a.seconds}: heap ${a.heapMb} MB, " +
      s"local[$Cores], ${InitialKeys} initial keys in $Buckets buckets, $Partitions topic partitions")
    val windowEvents = catchup.map(_.rows).sum
    say(f"catch-up: ${catchup.size} batches in the window (${perBatchRate.size} full) of up to " +
      f"$Cap events, after $WarmCatchupBatches in set-up; whole drain in the window " +
      f"${windowEvents * 1000.0 / (catchupEndMs - windowStartMs)}%.1f ev/s")
    say(f"trickle: one change every $periodMs%.0f ms, ${trickleB.size} batches, ${fresh.size} freshness samples, " +
      s"freshness_p95_ms ${pct(fresh, 95)} (detail, not gated)")
    say(s"reads: ${latest.size} latest-row lookups, read_p95_ms ${pct(latest.map(_.ms), 95)} " +
      "(detail, not gated)" + (if (hist.isEmpty) "" else
        f"; ${hist.size} all-versions lookups, history_read_p50_ms " +
          f"${Stats.median(hist.map(_.ms)).getOrElse(0.0)}%.1f (detail, not gated)"))
    say(f"open loop: lateness p99 $lateP99%.2f ms, max $lateMax%.2f ms, lag growth " +
      f"$lagGrowth%.1f events (limits $LatenessP99LimitMs%.0f ms, $LatenessMaxLimitMs%.0f ms, " +
      f"$lagLimit%.0f events): " + (if (valid) "valid" else "INVALID"))
    say("setup batch walls (ms): " + all.filter(_.batchId <= setupBatch).map(_.wallMs).mkString(" "))
    say("catch-up batch walls (ms): " + catchup.map(_.wallMs).mkString(" "))
    say("trickle batch walls (ms): " + trickleB.map(_.wallMs).mkString(" "))
    say("freshness ms: " + fresh.map(math.round).mkString(" "))
    say("lookup ms: " + lookups.map(l => math.round(l.ms)).mkString(" "))
    say(f"host cpu over the window: busy $busy%.1f%%, stolen $steal%.1f%%")
    say(s"operations: $attempted attempted, $failed failed " +
      s"($failedChanges replica keys, $failedLookups lookups)")
    e2e.foreach { case (k, (v, u)) => say(f"$k $v%.4f $u") }

    val metrics =
      if (!a.trace) e2e
      else {
        say("E2E " + json(e2e.map { case (k, (v, _)) => k -> num(v) }))
        perLayer(catchup, trickleB, lag)
      }
    say("RESULT " + json(Seq(
      "correct" -> (failed == 0 && valid).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> json(metrics.map { case (k, (v, u)) =>
        k -> json(Seq("value" -> num(v), "unit" -> s""""$u"""")) }))))
  }

  // ---- per-layer metrics (traced run)

  /** Listener totals of the jobs that ran inside the given batches. */
  private final class BatchSet(val bs: IndexedSeq[BatchProgress]) {
    val n: Double = math.max(1, bs.size).toDouble
    val events: Double = math.max(1L, bs.map(_.rows).sum).toDouble
    private val ids = bs.map(_.batchId).toSet
    val jobs: Seq[JobRec] = probe.jobsSnapshot.filter(_.batchId.exists(ids))
    val stages: Seq[StageAgg] =
      jobs.flatMap(_.stageIds).distinct.flatMap(probe.stage).filter(_.tasks > 0)
    def dur(k: String): Double = bs.map(_.durations.getOrElse(k, 0L)).sum / n
    def cpuMsPerKevent(ss: Seq[StageAgg]): Double = ss.map(_.cpuNs).sum / 1e6 / events * 1000
  }

  private def delta(from: Map[String, (Double, Long)],
      to: Map[String, (Double, Long)]): Map[String, (Double, Long)] =
    to.map { case (k, (s, c)) =>
      val (s0, c0) = from.getOrElse(k, (0.0, 0L)); k -> (s - s0, c - c0)
    }.filter(_._2._2 > 0)

  private def perLayer(catchupB: IndexedSeq[BatchProgress],
      trickleB: IndexedSeq[BatchProgress],
      lag: Seq[Double]): mutable.LinkedHashMap[String, (Double, String)] = {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    val c = new BatchSet(catchupB)
    val t = new BatchSet(trickleB)
    val phC = delta(phasesAtStart, phasesAfterCatchup)
    val phT = delta(phasesBeforeTrickle, phasesAfterTrickle)
    def ph(p: Map[String, (Double, Long)], set: BatchSet, name: String) =
      p.get(name).map(_._1 * 1000.0 / set.n).getOrElse(0.0)
    def only(b: Boolean, v: Double) = if (b) v else 0.0

    val setupS = spans.filter(_.layer == "setup").map(s => s.name -> s.durNs / 1e9).toMap
    Seq("jvm", "session", "initial_load", "warmup").foreach { k =>
      m(s"setup.${k}_s") = (setupS(s"setup.$k"), "s") }

    val produce = spans.filter(s => s.name == "produce" &&
      s.startNs >= trickleStartMs * 1e6 && s.startNs <= trickleLoopEndMs * 1e6)
    m("sources.cdc_log.append_ms") = (Stats.mean(produce.map(_.durNs / 1e6).toSeq), "ms")
    m("sources.cdc_source.latest_offset_ms") = (t.dur("latestOffset"), "ms")
    m("sources.cdc_source.get_batch_ms") = (t.dur("getBatch"), "ms")
    m("sources.cdc_source.rows_per_batch") = (t.events / t.n, "count")
    m("sources.cdc_source.lag_events") = (Stats.mean(lag), "count")

    m("cdc.envelope.decode_stage_cpu_ms_per_kevent") =
      (c.cpuMsPerKevent(c.stages.filter(_.scansCdcLog)), "ms")
    m("cdc.envelope.bytes_per_event") =
      (bytesAppended.toDouble / math.max(1L, eventsAppended), "B")

    m("engine.query_planning_ms") = (t.dur("queryPlanning"), "ms")
    m("engine.wal_commit_ms") = (t.dur("walCommit"), "ms")
    m("engine.commit_offsets_ms") = (t.dur("commitOffsets"), "ms")
    m("engine.batch_ms") = (t.dur("triggerExecution"), "ms")
    m("engine.jobs_per_batch") = (t.jobs.size / t.n, "count")
    m("engine.stages_per_batch") = (t.stages.size / t.n, "count")
    m("engine.tasks_per_batch") = (t.stages.map(_.tasks).sum / t.n, "count")
    val jobsByBatch = (c.jobs ++ t.jobs).groupBy(_.batchId.get)
    val uncovered = trickleB.map { b =>
      val ivs = jobsByBatch.getOrElse(b.batchId, Nil).map(j => (j.startMs, j.endMs))
      b.wallMs - Stats.covered(ivs, b.startMs, b.endMs)
    }
    m("engine.uncovered_ms_per_batch") = (uncovered.sum / t.n, "ms")
    m("engine.spill_bytes") = (c.stages.map(_.spillBytes).sum.toDouble, "B")

    m("streaming.cdc_stream.add_batch_ms") = (only(!isHistory, t.dur("addBatch")), "ms")
    m("streaming.cdc_stream.executor_cpu_ms_per_kevent") =
      (only(!isHistory, c.cpuMsPerKevent(c.stages)), "ms")
    m("streaming.cdc_stream.shuffle_bytes_per_event") =
      (only(!isHistory, c.stages.map(_.shuffleWriteBytes).sum / c.events), "B")
    m("streaming.cdc_stream.rows_rewritten_per_event") =
      (only(!isHistory, c.stages.map(_.recordsWritten).sum / c.events), "count")

    m("streaming.bucket_manifest.stage_write_ms") = (ph(phC, c, "stage.write"), "ms")
    m("streaming.bucket_manifest.bytes_written_per_event") =
      (c.stages.map(_.bytesWritten).sum / c.events, "B")
    m("streaming.bucket_manifest.stage_stats_ms") = (ph(phT, t, "stage.stats"), "ms")
    m("streaming.bucket_manifest.resolve_schema_ms") = (ph(phT, t, "resolve.schema"), "ms")
    m("streaming.bucket_manifest.buckets_touched_per_batch") = (manifest.touched / t.n, "count")
    m("streaming.bucket_manifest.files_written_per_batch") = (manifest.written / t.n, "count")
    m("streaming.bucket_manifest.live_files") =
      ((liveFiles("snapshot") + only(isHistory, liveFiles("history"))).toDouble, "count")

    m("streaming.table_group.materialize_ms") = (ph(phT, t, "dual.materialize"), "ms")
    m("streaming.table_group.changed_ms") = (ph(phT, t, "dual.changed"), "ms")
    m("streaming.table_group.stage_ms") = (ph(phT, t, "dual.stage"), "ms")
    m("streaming.table_group.commit_ms") = (ph(phT, t, "dual.commit"), "ms")
    m("streaming.table_group.commit_attempts_per_batch") = (phT.get("dual.stage")
      .map(_._2.toDouble / math.max(1L, phT.get("dual.changed").map(_._2).getOrElse(1L)))
      .getOrElse(0.0), "count")
    m("streaming.table_group.history_rows") = (historyRows.toDouble, "count")

    m("sources.table_sink.add_batch_ms") = (only(isHistory, t.dur("addBatch")), "ms")
    val lookupJobs = probe.jobsSnapshot.count(_.lookup.exists(l => !l.startsWith("-")))
    val nl = math.max(1, lookups.size).toDouble
    m("sources.table_scan.plan_ms") = (Stats.mean(lookups.map(_.planMs)), "ms")
    m("sources.table_scan.exec_ms") = (Stats.mean(lookups.map(_.execMs)), "ms")
    m("sources.table_scan.jobs_per_lookup") = (lookupJobs / nl, "count")
    m("sources.table_scan.files_read_per_lookup") = (lookups.map(_.files).sum / nl, "count")
    m("sources.table_scan.files_read_ratio") = (Stats.mean(lookups.map(l =>
      l.files.toDouble / math.max(1, l.liveFiles))), "ratio")
    m("sources.table_scan.history_lookup_p50_ms") = (Stats.median(
      lookups.filter(_.kind == "history").map(_.ms)).getOrElse(0.0), "ms")

    val windowS = (windowEndMs - windowStartMs) / 1000.0
    m("jvm.gc_ms_per_s") = ((jvm.gcMs - gc0) / windowS, "ms/s")
    m("jvm.live_heap_peak_mb") = (jvm.livePeakMb, "MB")

    // micro-batch spans: engine phases laid out in execution order from the
    // batch start, each batch's jobs under its addBatch
    val window = spans.find(_.name == "window").get.id
    val sinkLayer = if (isHistory) "table_sink" else "streaming"
    (trickleB ++ catchupB).foreach { b =>
      val bs = b.startMs * 1000000L
      val bid = addSpan(window, s"batch.${b.batchId}", "engine", bs, b.endMs * 1000000L)
      var at = bs
      Seq("latestOffset" -> "sources", "walCommit" -> "engine", "getBatch" -> "sources",
        "queryPlanning" -> "engine", "addBatch" -> sinkLayer,
        "commitOffsets" -> "engine").foreach { case (k, layer) =>
        val d = b.durations.getOrElse(k, 0L) * 1000000L
        val sid = addSpan(bid, k, layer, at, at + d)
        if (k == "addBatch") jobsByBatch.getOrElse(b.batchId, Nil).foreach { j =>
          val decode = !isHistory && j.stageIds.flatMap(probe.stage).exists(_.scansCdcLog)
          addSpan(sid, s"job.${j.jobId}",
            if (decode) "cdc" else if (isHistory) "table_group" else "streaming",
            j.startMs * 1000000L, j.endMs * 1000000L)
        }
        at += d
      }
    }
    val self = Stats.layerSelfTimes(spans.toSeq.filter(s =>
      s.startNs >= windowStartMs * 1e6 - 1 && s.layer != "setup"))
    Seq("sources", "cdc", "engine", "streaming", "table_sink", "table_group",
      "table_scan", "bench").foreach { l =>
      m(s"self.${l}_ms") = (self.getOrElse(l, 0L) / 1e6, "ms")
    }
    say("self time per layer over the window (ms): " +
      self.toSeq.sortBy(-_._2).map { case (l, ns) => f"$l ${ns / 1e6}%.1f" }.mkString(", "))
    def phaseLine(p: Map[String, (Double, Long)]) = p.toSeq.sortBy(_._1)
      .map { case (k, (s, n)) => f"$k ${s * 1000}%.1f ms/$n" }.mkString(", ")
    // every graft.Phase name that moved, so a renamed phase shows up here
    say("graft.Phase deltas, trickle: " + phaseLine(phT))
    say("graft.Phase deltas, catch-up: " + phaseLine(phC))
    writeTrace(trickleB ++ catchupB, phC, phT)
    m
  }

  /** Manifest diffs, read after every committed trickle batch (traced runs
    * only): buckets whose live files changed and files that appeared. */
  private object manifest {
    var touched = 0L
    var written = 0L
    private var prev: Map[(String, Long), Set[String]] = Map.empty
    private def snapshot(): Map[(String, Long), Set[String]] =
      if (!isHistory) BucketManifest.read(tableDir).getOrElse(Map.empty)
        .map { case (b, fs) => ("snapshot", b) -> fs.toSet }
      else TableGroup.currentTxn(tableDir).flatMap(TableGroup.groupManifest(tableDir, _))
        .getOrElse(Map.empty).toSeq.flatMap { case (t, es) =>
          es.map { case (b, fs) => (t, b) -> fs.toSet } }.toMap
    def start(): Unit = prev = snapshot()
    def onBatch(): Unit = {
      val cur = snapshot()
      touched += (cur.keySet ++ prev.keySet).filter(k => cur.get(k) != prev.get(k))
        .map(_._2).size
      written += cur.values.flatten.toSet.diff(prev.values.flatten.toSet).size
      prev = cur
    }
  }

  private def writeTrace(bs: IndexedSeq[BatchProgress], phC: Map[String, (Double, Long)],
      phT: Map[String, (Double, Long)]): Unit = {
    val f = new File(new File(a.work).getParentFile, s"trace-${a.workload}-seed${a.seed}.json")
    def str(s: String) = "\"" + s + "\""
    def phases(p: Map[String, (Double, Long)]) = json(p.toSeq.sortBy(_._1).map {
      case (k, (s, n)) => k -> json(Seq("ms" -> num(s * 1000), "count" -> n.toString)) })
    val out = json(Seq(
      "spans" -> spans.map(s => json(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> str(s.name), "layer" -> str(s.layer), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString))).mkString("[", ",", "]"),
      "batches" -> bs.map(b => json(Seq("batch_id" -> b.batchId.toString,
        "rows" -> b.rows.toString, "start_ms" -> b.startMs.toString,
        "durations_ms" -> json(b.durations.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }),
        "jobs" -> probe.jobsSnapshot.count(_.batchId.contains(b.batchId)).toString)))
        .mkString("[", ",", "]"),
      "phases_catchup" -> phases(phC),
      "phases_trickle" -> phases(phT),
      "lookups" -> lookups.map(l => json(Seq("kind" -> str(l.kind), "key" -> l.key.toString,
        "plan_ms" -> num(l.planMs), "exec_ms" -> num(l.execMs), "files" -> l.files.toString,
        "live_files" -> l.liveFiles.toString))).mkString("[", ",", "]")))
    java.nio.file.Files.write(f.toPath, out.getBytes("UTF-8"))
    say(s"trace written to ${f.getName}")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  private def json(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  def close(): Unit = {
    try spark.streams.active.foreach(_.stop()) catch { case _: Throwable => }
    try spark.stop() catch { case _: Throwable => }
  }
}
