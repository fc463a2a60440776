package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job-level profile for ANY registered query or drive: per target, the
  * wall, every Spark job's wall grouped by call site, plus the
  * graft.Phase ledger — the evidence that says whether a slow row is
  * scheduling, shuffle, staging writes, or driver-side protocol (time
  * covered by no job). The CDC sink breakdown is
  * `JobProfile <sfDir> drive:cdc_events drive:cdc_scd2
  * drive:cdc_dual_sink drive:cdc_dsv2_sink`; `tools/PlanDump` prints
  * plans.
  *
  * Usage: runMain graft.tools.JobProfile <sfDir> <name|drive:name> [...]
  */
object JobProfile {

  private final case class JobRow(id: Int, site: String, ms: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
      .config("spark.sql.adaptive.enabled", "true")
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

    val drives = graft.SparkEntry.drives.toMap
    names.foreach { n =>
      rows.clear()
      val t0 = System.nanoTime()
      if (n.startsWith("drive:")) drives(n)(spark, sfDir)
      else graft.SparkEntry.queries(n)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(800) // listener events are async; let the bus drain
      import scala.jdk.CollectionConverters._
      val all = rows.asScala.toSeq
      val jobSec = all.map(_.ms).sum / 1e3
      println(f"\n== $n: wall $wall%.2f s, ${all.size} jobs, " +
        f"job-covered $jobSec%.2f s, uncovered ${wall - jobSec}%.2f s ==")
      all.groupBy(_.site).toSeq
        .map { case (site, js) => (site, js.size, js.map(_.ms).sum / 1e3) }
        .sortBy(-_._3)
        .foreach { case (site, cnt, sec) =>
          println(f"  $sec%7.2f s  x$cnt%-3d  $site")
        }
      val ph = graft.Phase.report()
      if (ph.nonEmpty) {
        println("  -- protocol phases (graft.Phase, exact walls) --")
        ph.foreach { case (nm, sec, c) =>
          println(f"  $sec%7.2f s  x$c%-3d  $nm")
        }
      }
      graft.Phase.reset()
    }
    spark.stop()
  }
}
