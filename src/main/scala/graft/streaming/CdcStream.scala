package graft.streaming

import graft.cdc.Envelope
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming CDC consumer — the reference's consumer loop
  * (consumer.py:16-98) re-expressed as readStream → decode → foreachBatch
  * keyed upsert.
  *
  * Source parity map (SURVEY.md §2.1):
  *  - S1 subscribe-from-earliest → `kafkaSource(...)` with
  *    startingOffsets=earliest; the reference's manual commit-after-apply
  *    (consumer.py:32,75) becomes the checkpoint dir — offsets are recorded
  *    only after a micro-batch's sink write succeeds, giving the same
  *    at-least-once + idempotent-apply = effectively-exactly-once contract.
  *  - S2 explicit offset seek → `startingOffsets` JSON.
  *  - S3 poll loop → the micro-batch engine (trigger parameter).
  *  - S7-S9 row DML replay → per-batch latest-state MERGE into a
  *    bucketed parquet snapshot (`upsertBatchBucketed`): the batch unions
  *    with the snapshot slice of the buckets it touches, and the key's
  *    latest (ts_ms, lsn) wins; deletes drop the key. Apply errors fail
  *    the batch → offsets not committed → replay, mirroring
  *    consumer.py:73-79's "log, don't commit" retry.
  *
  * The Kafka wiring is code-complete but exercised only via MemoryStream in
  * tests (offline container: no broker, and no spark-sql-kafka connector
  * jar — that artifact is a deploy-time dependency) — the transform chain
  * after the source is byte-identical either way.
  *
  * Scale notes: state lives in the parquet snapshot, bucketed by key
  * hash; each micro-batch shuffles only its own changes plus the touched
  * buckets, and publishes them with one transaction-log entry
  * ([[TableGroup]]) — the table-format MERGE discipline (Delta/Iceberg)
  * carried by bare parquet.
  */
object CdcStream {

  /** S1/S2 reader option contract, as a pure map so the wiring is
    * spec-assertable offline (the sandbox has no broker). Mirrors the
    * reference consumer's config (consumer.py:28-33,46-49):
    *  - `bootstrap.servers` → `kafka.bootstrap.servers` (Spark prefixes
    *    pass-through client configs with `kafka.`)
    *  - `subscribe([topic])` → `subscribe`
    *  - `auto.offset.reset=earliest` → `startingOffsets=earliest`
    *  - `enable.auto.commit=False` + commit-after-apply → NO consumer
    *    commit option at all: Spark's checkpoint dir is the committed
    *    offset store, written only after the micro-batch sink succeeds.
    *    (`group.id` is likewise managed by Spark; setting it is
    *    deliberately absent from the contract.)
    * Deploy-time artifact: org.apache.spark:spark-sql-kafka-0-10_2.13
    * matching the Spark version (not bundled in this offline build).
    */
  def kafkaOptions(
      bootstrap: String,
      topic: String,
      startingOffsets: String = "earliest"): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "subscribe" -> topic,
    "startingOffsets" -> startingOffsets)

  /** S2: explicit offset seek. The reference assigns the SAME offset to
    * every partition of the topic (consumer.py:42-46); Spark expresses that
    * as a startingOffsets JSON `{"topic":{"0":off,...}}`. -2 = earliest,
    * -1 = latest, per the connector's documented sentinel values. */
  def startingOffsetsJson(topic: String, partitionOffsets: Map[Int, Long]): String = {
    require(partitionOffsets.nonEmpty, "at least one partition offset")
    val parts = partitionOffsets.toSeq.sortBy(_._1)
      .map { case (p, off) => s""""$p":$off""" }.mkString(",")
    s"""{"$topic":{$parts}}"""
  }

  /** S1/S2: Kafka source, value as string (decode happens downstream). */
  def kafkaSource(
      spark: SparkSession,
      bootstrap: String,
      topic: String,
      startingOffsets: String = "earliest"): DataFrame =
    spark.readStream
      .format("kafka")
      .options(kafkaOptions(bootstrap, topic, startingOffsets))
      .load()
      .select(col("value").cast("string").as("value"))

  /** Decode a raw value-string micro-batch/stream into change rows. */
  def decode(raw: DataFrame): DataFrame =
    Envelope.assertKnownOps(Envelope.decode(raw))

  /** Scale-adaptive bucket count for a NEW bucketed table (guide §6 file
    * sizing / §2.2 fewer-larger partitions): enough buckets that a full
    * snapshot of `rows` lands ~8k rows per bucket, as a power of two
    * clamped to [8, 4096]. The count is a LAYOUT choice made once at
    * table creation ([[BucketScheme]] pins it for the table's lifetime);
    * no query result depends on it — `bucket` is dropped from every
    * output and the merge dedups by key. The fixed 64 the drives used
    * previously made every micro-batch of a few-MB table read and write
    * ~64 tiny files per table (measured: stage.write was the dominant
    * per-batch phase at sf0.1 — 1.4 s/batch/table, mostly per-file open
    * and commit cost); at 100 TB the 4096 ceiling keeps the manifest a
    * few KB while each bucket holds tens of GB — the same knob a real
    * deployment sizes by table, not by a constant. */
  def adaptiveBuckets(rows: Long): Int = {
    val ideal = math.max(1L, (rows + 8191L) / 8192L)
    var b = 8
    while (b < ideal && b < 4096) b <<= 1
    b
  }

  /** Merge one micro-batch of decoded changes into the bucketed snapshot
    * at `snapshotDir`: latest (ts_ms, lsn) per key wins across {existing
    * slice ∪ batch}; a winner with op 'd' removes the key. Schema-generic:
    * the null `before` image is cast to the BATCH's own row schema, so any
    * table decoded by [[Envelope.decode]] flows through unchanged.
    *
    * `snapshotDir` is a one-table group ([[TableGroup]]): the table
    * [[DualSink.SnapshotTable]] lives as `<snapshotDir>/snapshot/bucket=<b>`
    * parquet partitions keyed by a murmur3 hash of the row key, and a
    * batch rewrites ONLY the buckets its keys fall in and publishes them
    * with one `_txnlog` entry (the crash and replay contract of
    * [[DualSink]]'s publish loop). Readers resolve through the log
    * ([[readSnapshotBucketed]], ``graft.`<snapshotDir>`.snapshot``). */
  def upsertBatchBucketed(spark: SparkSession, snapshotDir: String,
      nBuckets: Int = 64)(batch: DataFrame, batchId: Long): Unit =
    DualSink.applyGroup(
      Seq(batch -> Seq(DualSink.SnapshotTable -> BucketedMerge.Latest)),
      snapshotDir, nBuckets)

  /** Resolve the bucketed snapshot at its live transaction — the reader
    * half of the atomic-commit contract (a plain directory read would also
    * see a crashed writer's orphan files). None when no commit has
    * happened. */
  def readSnapshotBucketed(spark: SparkSession, snapshotDir: String): Option[DataFrame] =
    DualSink.readSnapshot(spark, snapshotDir)

  /** Wire a raw value-string stream into the bucketed snapshot sink. */
  def runBucketed(
      raw: DataFrame,
      snapshotDir: String,
      checkpointDir: String,
      nBuckets: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = raw.sparkSession
    decode(raw).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(upsertBatchBucketed(spark, snapshotDir, nBuckets) _)
      .start()
  }

  /** Same wiring, replicating into a LIVE JDBC database
    * ([[graft.sources.JdbcReplicaSink]]) — the reference's actual
    * deployment shape (consume → apply DML to a SQL replica) as a
    * StreamingQuery. Per micro-batch: compact to one net change per key,
    * apply via batched DELETE+INSERT in per-partition transactions. The
    * apply is replay-idempotent, so checkpoint-replayed batches converge
    * (the at-least-once + idempotent-apply = effectively-exactly-once
    * contract every sink here honors); a failed apply fails the batch →
    * offsets not committed → replay, the commit-after-apply semantics. */
  def runJdbcReplica(
      raw: DataFrame,
      url: String,
      table: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    graft.sources.JdbcReplicaSink.ensureTable(url, table)
    decode(raw).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.JdbcReplicaSink.applyNetChanges(
          graft.sources.JdbcReplicaSink.netChanges(batch), url, table)
      }
      .start()
  }
}
