package graft.streaming

import graft.SparkSpec
import graft.cdc.Envelope
import org.apache.spark.sql.DataFrame
import java.nio.file.Files

/** Replay recovery of the bucketed CDC sink: checkpoint recovery re-runs
  * the last batch, and the latest-wins merge must make that a no-op. The
  * crash windows of the one-table and the pair transactions are pinned by
  * `ManifestCommitSpec` and `TableGroupSpec`.
  */
class CrashRecoverySpec extends SparkSpec with BothMergePaths {
  import spark.implicits._

  private def env(op: String, id: Long, name: String, ts: Long): String = {
    val row = s"""{"id":$id,"name":"$name","nationkey":1,"acctbal":10.0,"mktsegment":"X"}"""
    val before = if (op == "d") row else "null"
    val after = if (op == "d") "null" else row
    s"""{"schema":null,"payload":{"before":$before,"after":$after,"source":{"table":"customers","lsn":$ts},"op":"$op","ts_ms":$ts}}"""
  }

  private def batch(events: String*): DataFrame =
    Envelope.decode(events.toDF("value"))

  testBothPaths("replay idempotence: re-running a batch over the post-commit state converges") {
    // checkpoint replay re-runs the last batch after a crash mid-commit of
    // the BUCKETED sink; latest-(ts_ms,lsn)-wins must make that a no-op.
    val tmp = Files.createTempDirectory("graft-crash-d").toString
    val snap = s"$tmp/snapshot"
    val b1 = Seq(env("c", 1, "a", 100), env("c", 2, "b", 110))
    val b2 = Seq(env("u", 1, "a2", 200), env("d", 2, "b", 210))
    CdcStream.upsertBatchBucketed(spark, snap, nBuckets = 4)(batch(b1: _*), 0L)
    CdcStream.upsertBatchBucketed(spark, snap, nBuckets = 4)(batch(b2: _*), 1L)
    def rows(): Map[Long, String] = CdcStream.readSnapshotBucketed(spark, snap).get
      .select("id", "name").as[(Long, String)].collect().toMap
    val after1 = rows()
    // replay batch 2 (what checkpoint recovery does after a crash)
    CdcStream.upsertBatchBucketed(spark, snap, nBuckets = 4)(batch(b2: _*), 1L)
    val after2 = rows()
    assert(after1 == Map(1L -> "a2") && after2 == after1)
  }
}
