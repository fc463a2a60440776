package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom keyed state via flatMapGroupsWithState — the state-store-resident
  * alternative to the foreachBatch snapshot merge (SURVEY §2.5 "stateful
  * upsert"). Each key holds its latest (ts_ms, lsn, row) in the state store;
  * arriving changes emit the new live row, or a delete marker when the
  * winner is op='d'.
  *
  * Versus `CdcStream.upsertBatchBucketed`: state lives in the streaming
  * state store instead of rewritten snapshot buckets — O(changed keys) per
  * micro-batch rather than O(touched buckets). At scale the store must be RocksDB-backed (the default
  * HDFS provider is heap-bound): the config contract is
  * [[StateStores.rocksDbConf]], and `RocksDbStateSpec` RUNS this operator
  * under both providers and asserts identical results plus RocksDB
  * engagement. The trade is that reading the full current state requires
  * the changelog consumer downstream. Both shapes are idiomatic; which wins
  * at 100 TB depends on change-rate vs snapshot-size ratio.
  */
object StatefulUpsert {

  final case class Change(
      id: Long, name: String, nationkey: Option[Int], acctbal: Option[Double],
      mktsegment: String, op: String, ts_ms: Long, lsn: Option[Long])

  final case class KeyState(ts_ms: Long, lsn: Long, deleted: Boolean,
      name: String, nationkey: Option[Int], acctbal: Option[Double], mktsegment: String)

  final case class Emitted(id: Long, name: String, acctbal: Option[Double],
      deleted: Boolean, ts_ms: Long)

  /** decoded change rows (Envelope.decode output) → typed change stream */
  def toChanges(decoded: DataFrame): Dataset[Change] = {
    val s = decoded.sparkSession
    import s.implicits._
    decoded.select(
      coalesce(col("after.id"), col("before.id")).as("id"),
      coalesce(col("after.name"), col("before.name")).as("name"),
      coalesce(col("after.nationkey"), col("before.nationkey")).as("nationkey"),
      coalesce(col("after.acctbal"), col("before.acctbal")).as("acctbal"),
      coalesce(col("after.mktsegment"), col("before.mktsegment")).as("mktsegment"),
      col("op"), col("ts_ms"), col("source.lsn").as("lsn")).as[Change]
  }

  def updateKey(
      id: Long,
      changes: Iterator[Change],
      state: GroupState[KeyState]): Iterator[Emitted] = {
    val incoming = changes.toSeq
    if (incoming.isEmpty) return Iterator.empty
    val newest = incoming.maxBy(c => (c.ts_ms, c.lsn.getOrElse(0L)))
    val current = state.getOption
    val newer = (newest.ts_ms, newest.lsn.getOrElse(0L))
    val winner = current match {
      case Some(st) if Ordering[(Long, Long)].gteq((st.ts_ms, st.lsn), newer) =>
        st // stale replay (at-least-once delivery) — state already newer
      case _ =>
        KeyState(newest.ts_ms, newest.lsn.getOrElse(0L), newest.op == "d",
          newest.name, newest.nationkey, newest.acctbal, newest.mktsegment)
    }
    state.update(winner)
    Iterator.single(Emitted(id, winner.name, winner.acctbal, winner.deleted, winner.ts_ms))
  }

  /** Wire a decoded change stream through the state store. */
  def run(decoded: DataFrame): Dataset[Emitted] = {
    val s = decoded.sparkSession
    import s.implicits._
    toChanges(decoded)
      .groupByKey(_.id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(updateKey)
  }
}
