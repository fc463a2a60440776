package graft.streaming

import graft.SparkSpec
import graft.cdc.{Envelope, Scd2}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Incremental SCD2 across micro-batches must equal the batch operator
  * over the full log — updates, deletes, delete-then-reinsert, and keys
  * untouched by later batches. */
class Scd2StreamSpec extends SparkSpec with BothMergePaths {
  import spark.implicits._

  private def env(op: String, id: Long, name: String, ts: Long): String = {
    val row = s"""{"id":$id,"name":"$name","nationkey":1,"acctbal":10.0,"mktsegment":"X"}"""
    val before = if (op == "d") row else "null"
    val after = if (op == "d") "null" else row
    s"""{"schema":null,"payload":{"before":$before,"after":$after,"source":{"table":"customers","lsn":$ts},"op":"$op","ts_ms":$ts}}"""
  }

  // batch 1: two keys created, one updated; batch 2: update + delete;
  // batch 3: reinsert after delete + a brand-new key
  private val b1 = Seq(env("r", 1, "a", 100), env("r", 2, "p", 110), env("u", 1, "b", 200))
  private val b2 = Seq(env("u", 1, "c", 300), env("d", 2, "p", 310))
  private val b3 = Seq(env("c", 2, "q", 500), env("r", 3, "z", 510))

  // through the manifest: a directory listing would also read a crashed
  // attempt's orphan files
  private def collectHist(dir: String) =
    Scd2Stream.readHistoryBucketed(spark, dir).get
      .select($"id", $"name", $"valid_from", $"valid_to", $"is_current")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet

  testBothPaths("incremental history == batch history; committed replay is a no-op") { guard =>
    val tmp = Files.createTempDirectory("graft-scd2-stream").toString
    Seq(b1, b2, b3).foreach { b =>
      Scd2Stream.applyBatchBucketed(Envelope.decode(b.toDF("value")), s"$tmp/hist", localMax = guard)
    }
    val got = collectHist(s"$tmp/hist")
    val want = Scd2.history(Envelope.decode((b1 ++ b2 ++ b3).toDF("value")))
      .select($"id", $"name", $"valid_from", $"valid_to", $"is_current")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet
    assert(got == want, s"got $got\nwant $want")
    assert(got.contains((1L, "c", 300L, None, true)))
    assert(got.contains((2L, "p", 110L, Some(310L), false))) // delete closed
    assert(got.contains((2L, "q", 500L, None, true))) // reinsert after gap
    // replay the committed last batch: dropDuplicates + already-closed
    // rows make it a no-op
    Scd2Stream.applyBatchBucketed(Envelope.decode(b3.toDF("value")), s"$tmp/hist", localMax = guard)
    assert(collectHist(s"$tmp/hist") == want)
    // as-of inside the deleted gap sees nothing for key 2
    assert(Scd2Stream.asOf(spark, s"$tmp/hist", 400L)
      .filter($"id" === 2L).count() == 0L)
  }

  test("bucketed incremental history == batch history; untouched buckets not rewritten") {
    val tmp = Files.createTempDirectory("graft-scd2-bkt").toString
    val hist = s"$tmp/hist"
    def bucketFiles(): Map[String, Seq[(String, Long)]] =
      Option(new java.io.File(hist).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("bucket="))
        .map(d => d.getName ->
          d.listFiles().toSeq.map(f => (f.getName, f.lastModified())).sortBy(_._1))
        .toMap
    Seq(b1, b2).foreach { b =>
      Scd2Stream.applyBatchBucketed(Envelope.decode(b.toDF("value")), hist)
    }
    val afterB2 = bucketFiles()
    // b3 touches keys 2 and 3 only — key 1's bucket must stay byte-stable
    Scd2Stream.applyBatchBucketed(Envelope.decode(b3.toDF("value")), hist)
    val afterB3 = bucketFiles()
    val key1Bucket = "bucket=" + java.lang.Long.remainderUnsigned(
      // same pmod(hash) — murmur3 — the writer uses (aligned with
      // HashPartitioning so the write clusters one file per bucket)
      spark.sql("SELECT CAST(pmod(hash(1L), 64) AS BIGINT)").collect()(0).getLong(0), 64L)
    assert(afterB2.contains(key1Bucket))
    assert(afterB3(key1Bucket) == afterB2(key1Bucket),
      s"untouched $key1Bucket was rewritten")
    // bucket/partition alignment: the merge's repartition(n, id) IS the
    // physical bucket clustering, so each bucket dir holds exactly one
    // data file (not one per writer task)
    afterB3.foreach { case (b, files) =>
      val parts = files.map(_._1).filter(_.endsWith(".parquet"))
      assert(parts.size == 1, s"$b has ${parts.size} files: $parts")
    }
    assert(afterB3.size > afterB2.size || afterB3 != afterB2) // b3 did write
    val got = collectHist(hist)
    val want = Scd2.history(Envelope.decode((b1 ++ b2 ++ b3).toDF("value")))
      .select($"id", $"name", $"valid_from", $"valid_to", $"is_current")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet
    assert(got == want)
  }

  test("streaming wrapper: MemoryStream-fed micro-batches build the same history") {
    implicit val sc = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-scd2-q").toString
    val es = MemoryStream[String]
    val q = Scd2Stream.scd2Sink(es.toDF().toDF("value"),
      s"$tmp/hist", s"$tmp/ck", Trigger.ProcessingTime(0))
    Seq(b1, b2, b3).foreach { b => es.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val want = Scd2.history(Envelope.decode((b1 ++ b2 ++ b3).toDF("value")))
      .select($"id", $"name", $"valid_from", $"valid_to", $"is_current")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet
    assert(collectHist(s"$tmp/hist") == want)
  }

  testBothPaths("asOf reads through the manifest: a crashed attempt's orphan files add no versions") { guard =>
    val tmp = Files.createTempDirectory("graft-scd2-asof").toString
    val hist = s"$tmp/hist"
    Scd2Stream.applyBatchBucketed(Envelope.decode((b1 ++ b2).toDF("value")), hist, localMax = guard)
    val committed = Scd2Stream.asOf(spark, hist, 320L)
      .select($"id", $"name").as[(Long, String)].collect().toSeq
    assert(committed == Seq((1L, "c"))) // key 2 deleted at 310
    // a writer dies after its data files land in the bucket directories
    // but before the manifest swap: the files are orphans on disk
    def diskFiles(): Int = new java.io.File(hist).listFiles()
      .filter(_.getName.startsWith("bucket="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    val filesBefore = diskFiles()
    BucketManifest.crashBeforeSwap = true
    try intercept[IllegalStateException] {
      Scd2Stream.applyBatchBucketed(Envelope.decode(b2.toDF("value")), hist, localMax = guard)
    } finally BucketManifest.crashBeforeSwap = false
    assert(diskFiles() > filesBefore, "crash left no orphans — failpoint dead?")
    // each key's version exactly once, and no layout column
    val rows = Scd2Stream.asOf(spark, hist, 320L)
    assert(!rows.columns.contains("bucket"))
    assert(rows.select($"id", $"name").as[(Long, String)].collect().toSeq ==
      committed)
    assert(Scd2Stream.asOf(spark, hist, 150L)
      .select($"id", $"name").as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "p")))
  }
}
