package graft.streaming

import graft.SparkSpec
import graft.cdc.Envelope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import java.io.File
import java.nio.file.Files

/** The driver-local merge twin (BucketedMerge.LocalMergeMax routes small
  * merges to it) must leave the SAME table as the distributed merge: per
  * bucket the identical row set, exactly one file, the identical
  * `_file_stats` row and the identical parquet footer schema. Each case
  * runs the same batches twice — guard at its default, and at 0 (the
  * distributed path) — and asserts the twin really ran on one side only
  * (the `stage.local` phase count). */
class LocalMergeTwinSpec extends SparkSpec {
  import spark.implicits._

  private val Wide = StructType(Envelope.rowSchema.fields :+
    StructField("phone", StringType))

  /** One envelope; `lsn` defaults to `ts`, `phone` makes it a widened row. */
  private def env(op: String, id: Long, name: String, ts: Long,
      lsn: Option[Long] = Some(-1L), phone: Option[String] = None): String = {
    val ph = phone.map(p => s""","phone":"$p"""").getOrElse("")
    val row = s"""{"id":$id,"name":"$name","nationkey":1,"acctbal":10.0,"mktsegment":"X"$ph}"""
    val before = if (op == "d") row else "null"
    val after = if (op == "d") "null" else row
    val l = lsn.map(v => if (v < 0) ts else v).map(_.toString).getOrElse("null")
    s"""{"schema":null,"payload":{"before":$before,"after":$after,"source":{"table":"customers","lsn":$l},"op":"$op","ts_ms":$ts}}"""
  }

  private def decoded(events: Seq[String],
      row: StructType = Envelope.rowSchema): DataFrame =
    Envelope.decode(events.toDF("value"), row = row)

  private def localWrites(): Long =
    graft.Phase.report().find(_._1 == "stage.local").map(_._3).getOrElse(0L)

  /** Every table under `root` with its live entries: a group directory's
    * tables at its live transaction, or one `_manifest` table. */
  private def tables(root: String): Map[String, Map[Long, Seq[String]]] =
    if (new File(root, TableGroup.TxnLogDir).exists())
      TableGroup.currentTxn(root).flatMap(TableGroup.groupManifest(root, _))
        .getOrElse(Map.empty)
    else BucketManifest.read(root).map(e => "" -> e).toMap

  private def footer(path: String): (String, String) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path),
        new org.apache.hadoop.conf.Configuration()))
    try {
      val m = r.getFooter.getFileMetaData
      (m.getSchema.toString,
        m.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
    } finally r.close()
  }

  /** Bucket → (rows, file stats, footer) of one table; exactly one file
    * per live bucket. */
  private def layout(dir: String, entries: Map[Long, Seq[String]]) = {
    BucketManifest.flushFileStats()
    val stats = BucketManifest.readFileStats(dir)
    val schema = BucketManifest.readTableSchema(dir).get
    entries.map { case (b, files) =>
      assert(files.size == 1, s"$dir bucket $b holds ${files.size} files")
      val path = s"$dir/${files.head}"
      val rows = spark.read.schema(schema).parquet(path).collect()
        .map(_.toSeq).toSet
      assert(stats.contains(files.head), s"$path has no stats row")
      b -> (rows, stats(files.head), footer(path))
    }
  }

  /** Run `steps` (root directory, guard) once per path and assert the two
    * results identical, table by table and bucket by bucket. */
  private def sameBothWays(steps: (String, Long) => Unit): Unit = {
    val tmp = Files.createTempDirectory("graft-twin").toString
    val (twin, dist) = (s"$tmp/twin", s"$tmp/dist")
    val w0 = localWrites()
    steps(twin, BucketedMerge.LocalMergeMax)
    val w1 = localWrites()
    steps(dist, 0L)
    assert(w1 > w0, "the twin never ran under the default guard")
    assert(localWrites() == w1, "the twin ran with the guard at 0")
    val (tt, dt) = (tables(twin), tables(dist))
    assert(tt.keySet == dt.keySet && tt.nonEmpty)
    tt.keys.foreach { t =>
      val sub = if (t.isEmpty) "" else s"/$t"
      assert(BucketManifest.readTableSchema(twin + sub) ==
        BucketManifest.readTableSchema(dist + sub), s"$t: _schema differs")
      val (a, b) = (layout(twin + sub, tt(t)), layout(dist + sub, dt(t)))
      assert(a.keySet == b.keySet, s"$t: live buckets differ")
      a.keys.foreach(bk => assert(a(bk) == b(bk), s"$t bucket $bk differs"))
    }
  }

  private def snapshot(dir: String): Map[Long, String] =
    CdcStream.readSnapshotBucketed(spark, dir)
      .map(_.select($"id", $"name").as[(Long, String)].collect().toMap)
      .getOrElse(Map.empty)

  test("latest-wins ties: ts_ms broken by lsn, a null lsn loses (desc nulls last)") {
    val b1 = Seq(env("c", 1, "a", 100), env("c", 2, "b", 100),
      env("c", 3, "c", 100), env("c", 4, "d", 90))
    val b2 = Seq(
      env("u", 1, "x", 200, Some(5L)), env("u", 1, "y", 200, None), // same batch
      env("u", 2, "z", 100, Some(101L)), // beats the live row on lsn
      env("u", 3, "w", 100, None), // loses to the live row (null lsn)
      env("u", 4, "v", 90, Some(89L))) // loses to the live row on lsn
    sameBothWays { (dir, m) =>
      CdcStream.upsertBatchBucketed(spark, dir, nBuckets = 4, localMax = m)(decoded(b1), 0L)
      CdcStream.upsertBatchBucketed(spark, dir, nBuckets = 4, localMax = m)(decoded(b2), 1L)
      assert(snapshot(dir) == Map(1L -> "x", 2L -> "z", 3L -> "c", 4L -> "d"))
    }
  }

  test("a delete that empties a bucket: no file, the bucket leaves the manifest") {
    sameBothWays { (dir, m) =>
      val ids = 1L to 12L
      CdcStream.upsertBatchBucketed(spark, dir, nBuckets = 4, localMax = m)(
        decoded(ids.map(i => env("c", i, s"n$i", 100))), 0L)
      val before = BucketManifest.read(dir).get
      val emptied = before.keys.min
      val victims = CdcStream.readSnapshotBucketed(spark, dir).get
        .filter($"bucket" === emptied).select($"id").as[Long].collect().toSeq
      CdcStream.upsertBatchBucketed(spark, dir, nBuckets = 4, localMax = m)(
        decoded(victims.map(i => env("d", i, s"n$i", 200))), 1L)
      val after = BucketManifest.read(dir).get
      assert(!after.contains(emptied) && after.keySet == before.keySet - emptied)
      assert(!Option(new File(dir, s"bucket=$emptied").listFiles()).toSeq
        .flatten.exists(_.getName.endsWith(".parquet")))
      assert(snapshot(dir).keySet == ids.toSet -- victims)
    }
  }

  test("a schema-widened batch against a narrower table (both merge kinds)") {
    val b1 = Seq(env("c", 1, "a", 100), env("c", 2, "b", 110))
    val b2 = Seq(env("u", 1, "a2", 200, phone = Some("555")),
      env("c", 3, "c", 210, phone = Some("556")))
    sameBothWays { (g, m) =>
      DualSink.applyBatch(decoded(b1), g, nBuckets = 4, localMax = m)
      DualSink.applyBatch(decoded(b2, Wide), g, nBuckets = 4, localMax = m)
      val phones = DualSink.readSnapshot(spark, g).get
        .select($"id", $"phone").as[(Long, Option[String])].collect().toMap
      assert(phones == Map(1L -> Some("555"), 2L -> None, 3L -> Some("556")))
    }
  }

  test("a replayed committed batch is a no-op (both merge kinds)") {
    val b1 = Seq(env("c", 1, "a", 100), env("c", 2, "b", 110))
    val b2 = Seq(env("u", 1, "a2", 200), env("d", 2, "b", 210),
      env("c", 3, "c", 220))
    sameBothWays { (g, m) =>
      DualSink.applyBatch(decoded(b1), g, nBuckets = 4, localMax = m)
      DualSink.applyBatch(decoded(b2), g, nBuckets = 4, localMax = m)
      def state = (DualSink.readSnapshot(spark, g).get.collect().toSet,
        DualSink.readHistory(spark, g).get.collect().toSet)
      val once = state
      DualSink.applyBatch(decoded(b2), g, nBuckets = 4, localMax = m)
      assert(state == once)
    }
  }

  test("an SCD2 batch carrying several versions of one key") {
    val b1 = Seq(env("c", 1, "a", 100), env("c", 2, "b", 110))
    val b2 = Seq(env("u", 1, "a2", 200), env("u", 1, "a3", 300),
      env("d", 1, "a3", 400), env("c", 1, "a4", 500), env("u", 2, "b2", 250))
    sameBothWays { (dir, m) =>
      Scd2Stream.applyBatchBucketed(decoded(b1), dir, nBuckets = 4, localMax = m)
      Scd2Stream.applyBatchBucketed(decoded(b2), dir, nBuckets = 4, localMax = m)
      val h = Scd2Stream.readHistoryBucketed(spark, dir).get
        .filter($"id" === 1L)
        .select($"name", $"valid_from", $"valid_to", $"is_current")
        .as[(String, Long, Option[Long], Boolean)].collect().sortBy(_._2).toSeq
      assert(h == Seq(("a", 100L, Some(200L), false),
        ("a2", 200L, Some(300L), false), ("a3", 300L, Some(400L), false),
        ("a4", 500L, None, true)))
    }
  }

  test("the multi-table route: every routed table's pair, one transaction") {
    val c = Seq(env("c", 1, "a", 100), env("c", 2, "b", 110))
    val o = Seq(env("c", 7, "x", 105), env("c", 8, "y", 115))
    val c2 = Seq(env("u", 1, "a2", 200), env("d", 2, "b", 210))
    val o2 = Seq(env("u", 8, "y2", 220))
    sameBothWays { (g, m) =>
      DualSink.applyBatchMulti(Seq("customers" -> decoded(c),
        "orders" -> decoded(o)), g, nBuckets = 4, localMax = m)
      DualSink.applyBatchMulti(Seq("customers" -> decoded(c2),
        "orders" -> decoded(o2)), g, nBuckets = 4, localMax = m)
      assert(tables(g).keySet == Set("customers_snapshot",
        "customers_history", "orders_snapshot", "orders_history"))
    }
  }
}
