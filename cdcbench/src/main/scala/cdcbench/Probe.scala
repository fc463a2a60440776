package cdcbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One micro-batch as `StreamingQueryProgress` reports it. `startMs` is the
  * progress `timestamp` (the trigger's start); `end` is the source's
  * committed end offsets per topic partition. */
final case class BatchProgress(queryId: String, batchId: Long, startMs: Long,
    durations: Map[String, Long], rows: Long, end: Map[Int, Long]) {
  def wallMs: Long = durations.getOrElse("triggerExecution", 0L)
  def endMs: Long = startMs + wallMs
}

/** A Spark job, attributed to a micro-batch by its `streaming.sql.batchId`
  * property or to a lookup by the benchmark's own property. */
final case class JobRec(jobId: Int, batchId: Option[Long],
    lookup: Option[String], startMs: Long, stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** Executor-side totals of one stage, summed over its finished tasks. */
final class StageAgg {
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsWritten = 0L
  var bytesWritten = 0L
  var scansCdcLog = false
}

/** Observes the program from outside: a `StreamingQueryListener` for
  * per-batch progress and a `SparkListener` for jobs, stages and tasks. */
final class Probe extends SparkListener {
  val LookupProperty = "cdcbench.lookup"

  val progress = new ConcurrentLinkedQueue[BatchProgress]()
  /** Called on the listener thread after each recorded batch. */
  @volatile var onProgress: BatchProgress => Unit = _ => ()
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageAgg]

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val b = BatchProgress(p.id.toString,
          p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows, Probe.parseOffsets(p.sources.head.endOffset))
        progress.add(b)
        onProgress(b)
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map(_.toLong)
    val lookup = props.flatMap(p => Option(p.getProperty(LookupProperty)))
    jobs(e.jobId) = JobRec(e.jobId, batch, lookup, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      // the graft-cdc micro-batch scan is the only DataSource V2 read here
      agg(e.stageInfo.stageId).scansCdcLog =
        e.stageInfo.rddInfos.exists(_.name == "DataSourceRDD")
    }

  private def agg(stageId: Int) = stages.getOrElseUpdate(stageId, new StageAgg)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(e.stageId)
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.recordsWritten += m.outputMetrics.recordsWritten
      a.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  def jobsSnapshot: Seq[JobRec] = synchronized(jobs.values.toList)
  def stage(id: Int): Option[StageAgg] = synchronized(stages.get(id))

  def batchesOf(queryId: String): IndexedSeq[BatchProgress] =
    progress.asScala.filter(_.queryId == queryId).toIndexedSeq.sortBy(_.batchId)
}

object Probe {
  private val PartRe = """"(\d+)"\s*:\s*(-?\d+)""".r

  /** `{"topic":{"0":12,"1":7}}` -> partition -> offset. */
  def parseOffsets(json: String): Map[Int, Long] = {
    val inner = json.indexOf('{', 1)
    PartRe.findAllMatchIn(if (inner < 0) json else json.substring(inner))
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
  }
}

/** JVM-side counters: GC time and the largest heap in use after a GC. */
final class JvmProbe {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peakLiveBytes = 0L

  def gcMs: Long = gcBeans.map(_.getCollectionTime).sum

  gcBeans.foreach {
    case emitter: javax.management.NotificationEmitter =>
      emitter.addNotificationListener((n: javax.management.Notification, _: Any) =>
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { if (live > peakLiveBytes) peakLiveBytes = live }
        }, null, null)
    case _ =>
  }

  def resetPeak(): Unit = synchronized { peakLiveBytes = 0L }
  def livePeakMb: Double = peakLiveBytes / 1048576.0

  /** Peak resident set of this process (`VmHWM`), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
