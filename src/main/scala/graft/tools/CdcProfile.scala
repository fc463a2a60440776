package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job-level profile of the CDC sink drives (`drive:cdc_scd2` +
  * `drive:cdc_dual_sink`, the pair the r12/r13 verdicts gate at ≤ ~22 s
  * combined, and `drive:cdc_dsv2_sink`): register
  * a listener that records every Spark job's wall and call site, run each
  * drive, and print the jobs grouped by call site — the breakdown that
  * says whether the per-batch fixed cost is scheduling, shuffle,
  * staging writes, or the driver-side file protocol (time NOT covered by
  * any job). The Phase lines' `stage.local` count says how many stage
  * writes took the driver-local merge twin.
  *
  * Usage: runMain graft.tools.CdcProfile [sfDir]
  */
object CdcProfile {

  private final case class JobRow(id: Int, site: String, ms: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect() // warm scheduler

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val rows = new ConcurrentLinkedQueue[JobRow]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def useful(s: String) = !s.contains("withThreadLocalCaptured")
        // SQL actions run through SQLExecution's thread pool and often
        // report a pool-frame call site — scan the job's stages for the
        // first USEFUL site (operator line), newest stage first
        val site = (p.flatMap(x => Option(x.getProperty("callSite.short")))
            .toSeq ++
          e.stageInfos.sortBy(-_.stageId).map(_.name.takeWhile(_ != '\n')))
          .find(useful)
          .getOrElse("pool:" + e.stageInfos.size + "stages")
        starts.put(e.jobId, (site, e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val s = starts.remove(e.jobId)
        if (s != null) rows.add(JobRow(e.jobId, s._1, e.time - s._2))
      }
    })

    def profile(name: String, f: => Unit): Unit = {
      rows.clear()
      val t0 = System.nanoTime()
      f
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events are async; give the bus a beat to drain
      Thread.sleep(800)
      import scala.jdk.CollectionConverters._
      val all = rows.asScala.toSeq
      val jobSec = all.map(_.ms).sum / 1e3
      println(f"\n== $name: wall $wall%.2f s, ${all.size} jobs, " +
        f"job-covered $jobSec%.2f s, uncovered ${wall - jobSec}%.2f s ==")
      all.groupBy(_.site).toSeq
        .map { case (site, js) => (site, js.size, js.map(_.ms).sum / 1e3) }
        .sortBy(-_._3)
        .foreach { case (site, cnt, sec) =>
          println(f"  $sec%7.2f s  x$cnt%-3d  $site")
        }
      println("  -- protocol phases (graft.Phase, exact walls) --")
      graft.Phase.report().foreach { case (n, sec, c) =>
        println(f"  $sec%7.2f s  x$c%-3d  $n")
      }
      graft.Phase.reset()
    }

    // force the shared decode first so the drives profile their own work
    profile("drive:cdc_events (decode)",
      graft.cdc.CdcQueries.drives.find(_._1 == "drive:cdc_events").get
        ._2(spark, sfDir))
    profile("drive:cdc_scd2",
      graft.cdc.CdcQueries.drives.find(_._1 == "drive:cdc_scd2").get
        ._2(spark, sfDir))
    profile("drive:cdc_dual_sink",
      graft.cdc.CdcQueries.drives.find(_._1 == "drive:cdc_dual_sink").get
        ._2(spark, sfDir))
    // the graft-table streaming sink over the file-log source (includes
    // drive:cdc_dsv2_log's log write, which it reads)
    profile("drive:cdc_dsv2_sink",
      graft.cdc.CdcQueries.drives.find(_._1 == "drive:cdc_dsv2_sink").get
        ._2(spark, sfDir))
    spark.stop()
  }
}
