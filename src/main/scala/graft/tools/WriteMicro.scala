package graft.tools

import graft.cdc.Envelope
import graft.sources.GraftLookupStrategy
import graft.streaming.CdcStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Crossover sweeps behind the two driver-local guards.
  *
  * `merge` — the bucketed merge's twin guard
  * (`BucketedMerge.LocalMergeMax`): the `dual.stage` time (merge + stage
  * write, publication tail included) of the twin vs the distributed merge
  * at batch + touched-bucket rows from 1.5k to 64k, in two shapes:
  *  - `spread`: a catch-up-like batch updating every key of a table of
  *    rows/2 keys over 8 buckets (every bucket touched);
  *  - `one-bucket`: a one-row batch against a bucket holding ~rows rows.
  * Each cell runs on a fresh latest-wins table, warm (one unreported
  * cell first, and one unmeasured replay of the same batch per cell),
  * min of 3 replays — a replay merges the same rows and rewrites the
  * same files as the first apply.
  *
  * `lookup` — the keyed lookup's budget (`GraftLookupStrategy.LookupRowMax`):
  * one `readSnapshotBucketed` key lookup (plan + collect) whose key's
  * bucket file holds ~rows rows, driver-local exec vs the one-job scan,
  * warm, min of 5.
  *
  * `local[4]` unless SPARK_GRAFT_CPUS says otherwise. Prints one line per
  * (shape, rows): driver-local ms, distributed ms.
  *
  * Usage: runMain graft.tools.WriteMicro [merge|lookup]  (default: both)
  */
object WriteMicro {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val sweeps = if (args.isEmpty) Set("merge", "lookup") else args.toSet
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val root = java.nio.file.Files.createTempDirectory("wm").toFile

    // decoded change events (Envelope.decode's shape) for the given keys
    def changes(ids: DataFrame, ts: Long): DataFrame = ids.select(
      struct(col("id"), concat(lit("cust_"), col("id")).as("name"),
        (col("id") % 25).cast("int").as("nationkey"),
        (col("id") * 1.5).as("acctbal"), lit("BUILDING").as("mktsegment"))
        .as("after"),
      lit(null).cast(Envelope.rowSchema).as("before"), lit("u").as("op"),
      lit(ts).as("ts_ms"),
      struct(lit("customers").as("table"), (col("id") + ts).as("lsn"))
        .as("source"))

    def stageSec: Double = graft.Phase.report()
      .find(_._1 == "dual.stage").map(_._2).getOrElse(0.0)

    var cell = 0
    def measure(seed: DataFrame, batch: DataFrame, localMax: Long): Double = {
      cell += 1
      val dir = s"$root/t$cell"
      CdcStream.upsertBatchBucketed(spark, dir, 8, 0L)(seed, 0L)
      (0 until 4).map { i =>
        val t0 = stageSec
        CdcStream.upsertBatchBucketed(spark, dir, 8, localMax)(batch, i + 1L)
        (stageSec - t0) * 1000
      }.drop(1).min
    }

    val sizes = Seq(1500, 3000, 6000, 12000, 16384, 24000, 32000, 48000, 64000)
    val warm = spark.range(750).toDF("id") // one unreported cell: JIT
    if (sweeps("merge")) {
      Seq(Long.MaxValue, 0L).foreach(measure(changes(warm, 1L), changes(warm, 2L), _))
      println("shape        rows   twin_ms   dist_ms")
    }
    for (rows <- sizes if sweeps("merge")) {
      val half = spark.range(rows / 2).toDF("id")
      val wide = spark.range(rows * 8L).toDF("id")
      val shapes = Seq(
        ("spread", changes(half, 1L), changes(half, 2L)),
        ("one-bucket", changes(wide, 1L), changes(
          wide.filter(pmod(hash(col("id")), lit(8)) === 0).limit(1), 2L)))
      shapes.foreach { case (shape, seed, batch) =>
        val twin = measure(seed, batch, Long.MaxValue)
        val dist = measure(seed, batch, 0L)
        println(f"$shape%-10s $rows%7d $twin%9.1f $dist%9.1f")
      }
    }
    if (sweeps("lookup")) println("lookup       rows  local_ms   dist_ms")
    for (rows <- 750 +: sizes if sweeps("lookup")) { // 750: unreported, JIT
      val dir = s"$root/lookup$rows"
      val ids = spark.range(rows * 8L).toDF("id")
      CdcStream.upsertBatchBucketed(spark, dir, 8, 0L)(changes(ids, 1L), 0L)
      val key = ids.filter(pmod(hash(col("id")), lit(8)) === 0).head().getLong(0)
      def lookup(budget: Long): Double = {
        GraftLookupStrategy.rowMax = budget
        (0 until 8).map { _ =>
          val t0 = System.nanoTime()
          CdcStream.readSnapshotBucketed(spark, dir).get
            .filter(col("id") === key).collect()
          (System.nanoTime() - t0) / 1e6
        }.drop(3).min
      }
      val (local, dist) = (lookup(Long.MaxValue), lookup(0L))
      if (rows != 750) println(f"lookup     $rows%7d $local%9.1f $dist%9.1f")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(root)
    spark.stop()
  }
}
