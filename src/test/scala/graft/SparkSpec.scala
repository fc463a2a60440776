package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — specs
  * run in a single forked JVM, so getOrCreate dedupes). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      // as Bench, Verify, the tools and cdcbench: manifest reads list their
      // files on the driver, not in a listing job
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sfDir = "/root/testdata/sf0.001"
}
