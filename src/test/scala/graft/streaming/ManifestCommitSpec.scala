package graft.streaming

import graft.SparkSpec
import graft.cdc.Envelope
import org.apache.spark.sql.DataFrame
import java.io.File
import java.nio.file.Files

/** Atomic-commit contract of the manifest-based bucketed sinks: a writer
  * killed between the data-file write and the manifest swap must leave
  * readers on the PRE-commit table (never a torn mix), the checkpoint
  * replay of the crashed batch must converge AND garbage-collect the
  * orphan files the crash left, and a completed commit's on-disk live set
  * must equal the manifest exactly. */
class ManifestCommitSpec extends SparkSpec with BothMergePaths {
  import spark.implicits._

  private def env(op: String, id: Long, name: String, ts: Long): String = {
    val row = s"""{"id":$id,"name":"$name","nationkey":1,"acctbal":10.0,"mktsegment":"X"}"""
    val before = if (op == "d") row else "null"
    val after = if (op == "d") "null" else row
    s"""{"schema":null,"payload":{"before":$before,"after":$after,"source":{"table":"customers","lsn":$ts},"op":"$op","ts_ms":$ts}}"""
  }

  private def batch(events: String*): DataFrame =
    Envelope.decode(events.toDF("value"))

  /** All parquet files on disk under bucket= dirs, as relative paths. */
  private def diskFiles(dir: String): Set[String] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("bucket="))
      .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => s"${d.getName}/${f.getName}"))
      .toSet

  private def manifestFiles(dir: String): Set[String] =
    BucketManifest.read(dir).map(_.values.flatten.toSet).getOrElse(Set.empty)

  private def state(dir: String): Map[Long, String] =
    CdcStream.readSnapshotBucketed(spark, dir)
      .map(_.select($"id", $"name").as[(Long, String)].collect().toMap)
      .getOrElse(Map.empty)

  testBothPaths("CDC sink: crash between data write and manifest swap leaves readers on the old snapshot; replay converges and GCs orphans") { guard =>
    val tmp = Files.createTempDirectory("graft-manifest-a").toString
    val snap = s"$tmp/snapshot"
    val b1 = Seq(env("c", 1, "a", 100), env("c", 2, "b", 110))
    CdcStream.upsertBatchBucketed(spark, snap, nBuckets = 4, localMax = guard)(batch(b1: _*), 0L)
    val s1 = state(snap)
    assert(s1 == Map(1L -> "a", 2L -> "b"))
    val manifest1 = manifestFiles(snap)
    assert(manifest1 == diskFiles(snap)) // committed: disk == manifest

    // the crash: batch 2's data files hit disk, the swap never happens
    val b2 = Seq(env("u", 1, "a2", 200), env("d", 2, "b", 210), env("c", 3, "c", 220))
    BucketManifest.crashBeforeSwap = true
    try intercept[IllegalStateException] {
      CdcStream.upsertBatchBucketed(spark, snap, nBuckets = 4, localMax = guard)(batch(b2: _*), 1L)
    } finally BucketManifest.crashBeforeSwap = false

    // torn window: orphan data files exist, but the manifest — and hence
    // every reader — still serves the untouched pre-commit snapshot
    assert(diskFiles(snap) != manifest1, "crash left no orphans — failpoint dead?")
    assert(manifestFiles(snap) == manifest1)
    assert(state(snap) == s1)

    // checkpoint replay of the crashed batch: converges to the merged
    // state and the orphans are gone — disk again equals the manifest
    CdcStream.upsertBatchBucketed(spark, snap, nBuckets = 4, localMax = guard)(batch(b2: _*), 1L)
    assert(state(snap) == Map(1L -> "a2", 3L -> "c"))
    assert(diskFiles(snap) == manifestFiles(snap))
  }

  testBothPaths("CDC sink: replay after a COMPLETED swap is a no-op (latest-wins)") { guard =>
    val tmp = Files.createTempDirectory("graft-manifest-b").toString
    val snap = s"$tmp/snapshot"
    val b1 = Seq(env("c", 1, "a", 100))
    val b2 = Seq(env("u", 1, "a2", 200))
    CdcStream.upsertBatchBucketed(spark, snap, nBuckets = 4, localMax = guard)(batch(b1: _*), 0L)
    CdcStream.upsertBatchBucketed(spark, snap, nBuckets = 4, localMax = guard)(batch(b2: _*), 1L)
    val committed = state(snap)
    CdcStream.upsertBatchBucketed(spark, snap, nBuckets = 4, localMax = guard)(batch(b2: _*), 1L)
    assert(state(snap) == committed && committed == Map(1L -> "a2"))
    assert(diskFiles(snap) == manifestFiles(snap))
  }

  testBothPaths("SCD2 sink: crash before the swap leaves readers on the old history; replay converges and GCs orphans") { guard =>
    val tmp = Files.createTempDirectory("graft-manifest-c").toString
    val hist = s"$tmp/hist"
    def history(): Set[(Long, String, Long, Option[Long], Boolean)] =
      Scd2Stream.readHistoryBucketed(spark, hist)
        .map(_.select($"id", $"name", $"valid_from", $"valid_to", $"is_current")
          .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet)
        .getOrElse(Set.empty)

    val b1 = Seq(env("c", 1, "a", 100), env("c", 2, "p", 110))
    val b2 = Seq(env("u", 1, "b", 200))
    Scd2Stream.applyBatchBucketed(Envelope.decode(b1.toDF("value")), hist, localMax = guard)
    val h1 = history()
    assert(h1.map(_._1) == Set(1L, 2L))

    BucketManifest.crashBeforeSwap = true
    try intercept[IllegalStateException] {
      Scd2Stream.applyBatchBucketed(Envelope.decode(b2.toDF("value")), hist, localMax = guard)
    } finally BucketManifest.crashBeforeSwap = false
    assert(diskFiles(hist) != manifestFiles(hist)) // orphans on disk
    assert(history() == h1) // readers untorn

    Scd2Stream.applyBatchBucketed(Envelope.decode(b2.toDF("value")), hist, localMax = guard)
    val want = graft.cdc.Scd2.history(Envelope.decode((b1 ++ b2).toDF("value")))
      .select($"id", $"name", $"valid_from", $"valid_to", $"is_current")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet
    assert(history() == want)
    assert(diskFiles(hist) == manifestFiles(hist))
  }

  test("footerStats types: plain INT64/INT32 → Longs, DATE → Dates, " +
      "ASCII strings → Strs (>64 chars truncated to SOUND loose bounds), " +
      "non-ASCII strings and DECIMAL/TIMESTAMP columns are dropped") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft-footer-types").toString
    val longTail = "x" * 80
    spark.range(0, 100)
      .select(
        $"id".as("l"),
        $"id".cast("int").as("i"),
        date_add(to_date(lit("2026-01-01")), $"id".cast("int")).as("d"),
        concat(lit("name"), format_string("%03d", $"id")).as("s"),
        concat(format_string("%03d", $"id"), lit(longTail)).as("long_s"),
        concat(lit("café"), $"id".cast("string")).as("non_ascii"),
        ($"id".cast("decimal(10,2)") + lit(0.45)).as("dec"),
        to_timestamp(lit("2026-01-01 00:00:00")).as("ts"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/t")
    val part = new File(s"$tmp/t").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val st = BucketManifest.footerStats(part.getAbsolutePath)

    assert(st.get("l").contains(ColStats.Longs(0L, 99L)))
    assert(st.get("i").contains(ColStats.Longs(0L, 99L)))
    val d0 = java.time.LocalDate.of(2026, 1, 1).toEpochDay
    assert(st.get("d").contains(ColStats.Dates(d0, d0 + 99)))
    assert(st.get("s").contains(ColStats.Strs("name000", "name099")))
    // truncated bounds stay SOUND: min ≤ every value, max ≥ every value
    st("long_s") match {
      case ColStats.Strs(mn, mx) =>
        assert(mn.length <= 64 && mx.length <= 64)
        assert(mn.compareTo("000" + longTail) <= 0)
        assert(mx.compareTo("099" + longTail) >= 0)
      case other => fail(s"long_s: $other")
    }
    // representations where a pushed literal is NOT the stored primitive
    // (or the ordering is not ASCII-byte order) record nothing
    assert(!st.contains("non_ascii"))
    assert(!st.contains("dec"))
    assert(!st.contains("ts"))

    // sidecar round trip: every typed bound survives render → parse
    val rel = "bucket=0/rt.parquet"
    val dir = s"$tmp/rt"; new File(dir).mkdirs()
    BucketManifest.writeStatsForTest(dir, Map(rel -> st))
    assert(BucketManifest.readFileStats(dir) == Map(rel -> st))
  }
}
