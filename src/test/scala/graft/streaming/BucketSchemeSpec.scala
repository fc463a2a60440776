package graft.streaming

import graft.SparkSpec
import graft.cdc.ChangeGen
import java.nio.file.Files

/** Bucket-layout contract: the marker is stamped on first write, a
  * mismatched scheme or bucket count refuses instead of silently
  * stranding keys in old-scheme buckets, and an unmarked legacy layout
  * refuses because its scheme is unknowable. */
class BucketSchemeSpec extends SparkSpec {

  test("first use stamps the marker; same scheme keeps passing") {
    val dir = Files.createTempDirectory("graft-scheme").toString
    BucketScheme.ensure(dir, BucketScheme.Murmur3Pmod, 16)
    assert(new java.io.File(dir, BucketScheme.MarkerName).exists())
    BucketScheme.ensure(dir, BucketScheme.Murmur3Pmod, 16) // idempotent
  }

  test("changed bucket count or hash scheme refuses") {
    val dir = Files.createTempDirectory("graft-scheme2").toString
    BucketScheme.ensure(dir, BucketScheme.Murmur3Pmod, 16)
    val e1 = intercept[IllegalStateException] {
      BucketScheme.ensure(dir, BucketScheme.Murmur3Pmod, 32)
    }
    assert(e1.getMessage.contains("bucket-scheme mismatch"))
    val e2 = intercept[IllegalStateException] {
      BucketScheme.ensure(dir, "xxhash64-pmod", 16)
    }
    assert(e2.getMessage.contains("bucket-scheme mismatch"))
  }

  test("unmarked legacy bucket layout refuses") {
    val dir = Files.createTempDirectory("graft-scheme3").toString
    new java.io.File(dir, "bucket=0").mkdirs() // pre-marker layout
    val e = intercept[IllegalStateException] {
      BucketScheme.ensure(dir, BucketScheme.Murmur3Pmod, 16)
    }
    assert(e.getMessage.contains("unmarked bucketed layout"))
  }

  test("marker records the bucketing key column and readScheme returns it") {
    val dir = Files.createTempDirectory("graft-scheme-key").toString
    BucketScheme.ensure(dir, BucketScheme.Murmur3Pmod, 16)
    assert(BucketScheme.readScheme(dir) ===
      Some(BucketScheme.SchemeInfo(
        BucketScheme.Murmur3Pmod, 16, Some(BucketScheme.DefaultKeyCol))))
  }

  test("a different key column refuses; a legacy two-field marker is accepted but exposes no key") {
    val dir = Files.createTempDirectory("graft-scheme-key2").toString
    BucketScheme.ensure(dir, BucketScheme.Murmur3Pmod, 16, keyCol = "id")
    val e = intercept[IllegalStateException] {
      BucketScheme.ensure(dir, BucketScheme.Murmur3Pmod, 16, keyCol = "uid")
    }
    assert(e.getMessage.contains("bucket-scheme mismatch"))
    // legacy pre-r15 marker: scheme/count only — writers keep passing
    // (their key was the fixed Envelope key), readers get keyCol = None
    // and must skip key-derived pruning
    val legacyDir = Files.createTempDirectory("graft-scheme-key3").toString
    new java.io.File(legacyDir).mkdirs()
    Files.write(
      new java.io.File(legacyDir, BucketScheme.MarkerName).toPath,
      s"${BucketScheme.Murmur3Pmod}/16\n".getBytes)
    BucketScheme.ensure(legacyDir, BucketScheme.Murmur3Pmod, 16) // accepted
    assert(BucketScheme.readScheme(legacyDir) ===
      Some(BucketScheme.SchemeInfo(BucketScheme.Murmur3Pmod, 16, None)))
  }

  test("mergeWidth: the unknown-size Long.MaxValue default saturates the divisor ceiling (no overflow collapse)") {
    val sat = BucketedMerge.mergeWidth(64, spark, Long.MaxValue)
    assert(sat === BucketedMerge.mergeWidth(64, spark, 64L * 8192L),
      "MaxValue must size like any saturating row count")
    // the ceiling: largest divisor of nBuckets within the session width
    val width = spark.sessionState.conf.numShufflePartitions
    val hi = (1 to 64).filter(64 % _ == 0).filter(_ <= math.min(64, width)).last
    assert(sat === hi, s"expected the divisor ceiling $hi, got $sat")
    assert(BucketedMerge.mergeWidth(64, spark, 1L) <= 4) // tiny batch floor
  }

  test("stagedCommitterVersion: v2 only when tasks can never retry") {
    // this session runs local[32] without the retry form → v2
    assert(BucketManifest.stagedCommitterVersion(spark) === "2")
  }

  test("the bucketed CDC sink stamps its scheme and refuses a different bucket count next batch") {
    val snap = Files.createTempDirectory("graft-scheme-sink").toString + "/snap"
    val events = ChangeGen.changeEvents(spark, sfDir).limit(50)
    CdcStream.upsertBatchBucketed(spark, snap, nBuckets = 8)(
      CdcStream.decode(events), 0L)
    assert(new java.io.File(s"$snap/${DualSink.SnapshotTable}",
      BucketScheme.MarkerName).exists())
    intercept[IllegalStateException] {
      CdcStream.upsertBatchBucketed(spark, snap, nBuckets = 16)(
        CdcStream.decode(events), 1L)
    }
  }
}
