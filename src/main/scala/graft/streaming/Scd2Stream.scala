package graft.streaming

import graft.cdc.{Envelope, Scd2}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental SCD2: maintain the type-2 history table micro-batch by
  * micro-batch instead of recomputing it from the full log ([[Scd2]]).
  *
  * Per batch ([[BucketedMerge.mergeHistory]]): (1) the batch's own events
  * chain into new versions with a per-key window (same single pass as the
  * batch operator); (2) each key's currently-open history row is closed
  * at the key's FIRST event timestamp in the batch (any op — a delete
  * closes without opening); (3) untouched keys pass through unchanged.
  * Requires the CDC log's per-key in-order delivery guarantee (Kafka
  * partition ordering): every event for a key in batch N+1 is later than
  * that key's events in ≤N — the same assumption the reference's
  * sequential applier hard-codes.
  *
  * Scale shape: the history lives partitioned by `bucket = hash(key) %
  * nBuckets`, and a micro-batch rewrites ONLY the buckets containing
  * touched keys; the close-set is batch-key-cardinality and broadcast.
  * The commit is the [[BucketManifest]] swap `CdcStream.upsertBatchBucketed`
  * uses: readers resolve the manifest and see the old or the new history,
  * never a torn mix, and the final `dropDuplicates(key, valid_from)`
  * makes a committed batch's replay a no-op (versions are unique per
  * (key, valid_from) by construction). Untouched bucket directories are
  * byte-identical across batches (spec-pinned).
  */
object Scd2Stream {

  /** One SCD2 merge + manifest swap; `localMax` guards the driver-local
    * merge twin ([[BucketedMerge.LocalMergeMax]]; 0 forces the
    * distributed merge). */
  def applyBatchBucketed(decoded: DataFrame, historyDir: String,
      nBuckets: Int = 64,
      localMax: Long = BucketedMerge.LocalMergeMax): Unit =
    BucketedMerge.applyToTable(decoded, historyDir, nBuckets,
      BucketedMerge.Scd2, localMax)

  /** Resolve the bucketed history through its manifest — the reader half
    * of the atomic-commit contract (a plain directory read would also see
    * a crashed writer's orphan files). */
  def readHistoryBucketed(spark: SparkSession,
      historyDir: String): Option[DataFrame] =
    BucketManifest.resolve(spark, historyDir)

  /** Streaming wrapper: raw Debezium-envelope values → decoded → the
    * incremental history merge, one merge per micro-batch. */
  def scd2Sink(rawValues: DataFrame, historyDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    rawValues.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // assertKnownOps: an unknown op must FAIL the batch for retry
        // (CdcStream.decode semantics), not slip past `op =!= 'd'` as an
        // all-null history version
        applyBatchBucketed(Envelope.assertKnownOps(Envelope.decode(batch)),
          historyDir)
      }
      .start()

  /** Point-in-time lookup over the maintained table — same [from, to)
    * semantics as the batch operator. Reads the manifest's live files, not
    * the directory (a crashed attempt's orphans would duplicate versions),
    * and drops the `bucket` layout column. */
  def asOf(spark: SparkSession, historyDir: String, ts: Long): DataFrame =
    Scd2.asOf(readHistoryBucketed(spark, historyDir).getOrElse(
      throw new IllegalStateException(s"no committed history at $historyDir"))
      .drop("bucket"), ts)
}
