package graft.streaming

import graft.cdc.Envelope
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** The one bucketed merge step every CDC sink runs per micro-batch — the
  * reference's replay loop (consumer.py:16-98) as a bucket-pruned MERGE.
  *
  * [[prepare]] does the batch-side work ONCE: it checks the target
  * tables' [[BucketScheme]] and materializes the normalized batch with one
  * `localCheckpoint` (Spark shares no duplicate subplans, so without it
  * the decode lineage re-executes for every merge and every conflict
  * retry). The changed buckets and the row count ride that same job as an
  * `Observation` — no second job. [[Batch.stage]] then merges the batch
  * with a table's existing slice under either [[Kind]] and stage-writes
  * the result. Publication is always a [[TableGroup]] transaction, run by
  * the one publish loop (`DualSink.applyGroup`): a single-table sink
  * commits a one-table group, [[DualSink]] a snapshot/history pair per
  * routed table.
  *
  * Two paths, one result. Over [[LocalMergeMax]] (batch rows plus the
  * touched buckets' live rows, the latter from parquet footers), the merge
  * is a distributed plan — a window over the batch ∪ slice behind one
  * bucket-aligned exchange, written by a dynamic-partition Spark job
  * ([[BucketManifest.stageWrite]]). At or under it, a driver-local twin
  * collects the checkpointed batch, reads the slice's live files with
  * Spark's own parquet reader, folds them by the same rule and writes one
  * file per touched bucket through Spark's own parquet writer, under the
  * distributed plan's analyzed schema. Both hand their files to the same
  * publication tail ([[BucketManifest.stageFiles]]), so the commit, the
  * crash windows and GC do not know which path ran. The guard sits where
  * a single-change commit stops paying a Spark write job (the fixed cost
  * of planning and scheduling one, ~200-300 ms at `local[4]`) while a
  * full catch-up batch, which needs the cores, keeps the distributed plan
  * (`tools/WriteMicro` measures the crossover). [[localMax]] is the guard
  * every merge applies.
  *
  * Phase names (`graft.Phase`), one vocabulary for every sink:
  * `dual.materialize`, `dual.changed`, `dual.stage` (one span per commit
  * attempt) and `dual.commit` — cdcbench's trace derives its
  * `streaming.table_group.*` metrics from these names.
  *
  * Scale shape: a micro-batch reads and rewrites ONLY the buckets its
  * keys fall in, so its cost is proportional to the changed slice, not
  * the table. The changed-bucket list is a driver-side set bounded by
  * `nBuckets` — the partition-pruning predicate, not data. */
private[graft] object BucketedMerge {

  /** How a batch folds into a table. */
  sealed trait Kind
  /** Latest-(ts_ms, lsn)-wins replica; a delete winner drops the key. */
  case object Latest extends Kind
  /** SCD2 history: close each touched key's open version, append the
    * batch's versions. */
  case object Scd2 extends Kind

  /** Largest merge (batch rows + the touched buckets' live rows) the
    * driver-local twin takes: 2 × `CdcStream.adaptiveBuckets`' 8,192-row
    * bucket target, so a batch touching about one full-size bucket
    * commits without a Spark write job. Every input row is held on the
    * driver as an `InternalRow` for the fold — a few MB at this size. */
  private[graft] val LocalMergeMax = 16384L

  /** Test seam (the `GraftLookupStrategy.rowMax` pattern): the guard the
    * merges apply; 0 sends every merge down the distributed path. */
  @volatile private[graft] var localMax: Long = LocalMergeMax

  /** A prepared micro-batch: the checkpointed normal form
    * ([[normalizeBatch]]), its non-empty changed buckets, its row count
    * and the merge's exchange width ([[mergeWidth]]). */
  final case class Batch(norm: DataFrame, changed: Seq[Long], rows: Long,
      width: Int) {
    /** The batch as the driver-local twin reads it: (key, after, op,
      * ts_ms, lsn, bucket). Collected at most once however many tables
      * and attempts fold it. */
    private lazy val localFrame = norm.select(Envelope.keyCol.as("_key"),
      col("after"), col("op"), col("ts_ms"), col("lsn"), col("bucket"))
    private[streaming] lazy val localSchema: StructType = localFrame.schema
    private[streaming] lazy val local: Array[InternalRow] =
      localFrame.queryExecution.executedPlan.executeCollect()

    /** Merge with the table's live slice for [[changed]] — `live` is the
      * table's live-file set at the base transaction of the caller's
      * commit (never a directory listing: a crashed attempt's orphans must not
      * re-enter) — and stage-write the result under `dir`. New files land
      * beside the still-live ones under fresh names, so the merge reads
      * what the commit supersedes with no barrier; a changed bucket whose
      * every key was deleted writes nothing and drops out at the commit.
      * The returned map is exactly this attempt's files (explicit
      * ownership). */
    def stage(kind: Kind, live: Map[Long, Seq[String]],
        dir: String): Map[Long, Seq[String]] = {
      val spark = norm.sparkSession
      val localMax = BucketedMerge.localMax
      val touched = changed.toSet
      val slice = live.filter { case (b, fs) => touched(b) && fs.nonEmpty }
      // the distributed merge frame: built only when the twin does not
      // take the merge (or to learn a new output schema)
      lazy val next = {
        val existing = BucketManifest.resolveEntries(spark, dir, slice, None)
        kind match {
          case Latest => mergeSnapshot(norm, existing.map(
            snapshotAsChanges(_, norm.schema("before").dataType)), width)
          case Scd2 => mergeHistory(norm, existing, width)
        }
      }
      // the twin's table schema is the `_schema` sidecar (None: no live
      // file in the touched buckets); without a sidecar, the distributed
      // path runs. Batch rows first: a catch-up batch over the guard
      // opens no footer.
      val twin =
        if (rows > localMax || rows + slice.values.flatten.iterator
            .map(rel => BucketManifest.footerRowCount(s"$dir/$rel")).sum >
            localMax) None
        else (if (slice.isEmpty) Some(None)
          else BucketManifest.readTableSchema(dir).map(Some(_))).flatMap { tbl =>
          val out = outSchema.getOrElseUpdate((kind, norm.schema, tbl),
            next.schema)
          LocalMerge.plan(this, kind, tbl, out).map(_ -> out)
        }
      twin match {
        // `stage.local` counts the twin's writes inside `stage.write`
        case Some((fold, out)) => BucketManifest.stageFiles(dir, out) { st =>
          graft.Phase.timed("stage.local")(
            fold(slice.map { case (b, fs) => b -> fs.map(f => s"$dir/$f") }, st))
        }
        case None => BucketManifest.stageWrite(next, dir)
      }
    }
  }

  /** The distributed merge's output schema per (kind, batch schema, table
    * schema): the twin writes under it without analyzing the merge plan
    * on every attempt. Resolved data schemas are all-nullable, so the
    * key fixes the analyzed schema. */
  private val outSchema = scala.collection.concurrent.TrieMap
    .empty[(Kind, StructType, Option[StructType]), StructType]

  /** Prepare `decoded` for merging into the tables at `dirs` (all under
    * the murmur3-pmod scheme with `nBuckets` — a mixed-scheme merge would
    * strand stale rows in unreachable buckets). None when the batch
    * touches no bucket. */
  def prepare(decoded: DataFrame, nBuckets: Int, dirs: String*): Option[Batch] = {
    dirs.foreach(BucketScheme.ensure(_, BucketScheme.Murmur3Pmod, nBuckets))
    // the changed buckets and the row count are observed on the
    // checkpoint's own job: a separate collect cost one more scheduled
    // job per batch for ≤ nBuckets longs
    val seen = Observation()
    val norm = graft.Phase.timed("dual.materialize")(
      normalizeBatch(decoded, nBuckets)
        .observe(seen, collect_set(col("bucket")).as("changed"),
          count(lit(1)).as("rows"))
        .localCheckpoint(true))
    val (changed, rows) = graft.Phase.timed("dual.changed") {
      val m = seen.get
      (m("changed").asInstanceOf[Seq[Long]].sorted, m("rows").asInstanceOf[Long])
    }
    if (changed.isEmpty) None
    else Some(Batch(norm, changed, rows,
      mergeWidth(nBuckets, decoded.sparkSession, rows)))
  }

  /** Envelope batch → the merge's normal form, with the bucket column.
    * murmur3 (same hash HashPartitioning evaluates): bucket i == the
    * partition id `repartition(nBuckets, key)` assigns, so the merge
    * clusters physically by bucket with no extra shuffle. */
  def normalizeBatch(batch: DataFrame, nBuckets: Int): DataFrame =
    batch.select(col("after"), col("before"), col("op"),
      col("ts_ms"), col("source.lsn").as("lsn"))
      .withColumn("bucket", pmod(hash(Envelope.keyCol), lit(nBuckets)).cast(LongType))

  /** Exchange width for a bucket-aligned merge write, sized by the
    * batch's ROW COUNT and always a DIVISOR of nBuckets — bucket =
    * pmod(murmur3(key), nBuckets) and partition = pmod(murmur3(key), t),
    * so t | nBuckets puts bucket b wholly inside partition (b mod t): the
    * dynamic-partition writer still emits EXACTLY one file per bucket (one
    * per (task, bucket) pair, and no bucket spans tasks), while the
    * reduce-task count stops being nBuckets-wide for tiny batches.
    * Measured (a write-shape micro-benchmark, 15k rows, 64 buckets,
    * local[32]): 64 tasks ≈ 0.95 s, 32 ≈ 0.73, 16 ≈ 0.45, 8 ≈ 0.42 —
    * per-task launch overhead was the per-batch fixed cost the r12/r13
    * verdicts gate. Sizing: one task per
    * ~8k batch rows, floor 4 (the existing slice's size is unknown at
    * plan time; idle tasks are ~free, undersized ones are not), ceiling
    * min(nBuckets, shuffle width) — at production widths and real batch
    * sizes this saturates the ceiling. */
  def mergeWidth(nBuckets: Int, spark: SparkSession, batchRows: Long): Int = {
    val width = math.max(1, spark.sessionState.conf.numShufflePartitions)
    val divisors = (1 to nBuckets).filter(nBuckets % _ == 0)
    val hi = divisors.filter(_ <= math.min(nBuckets, width)).last
    // ceil(batchRows / 8192) without overflow: the naive
    // `(batchRows + 8191) / 8192` wraps NEGATIVE near Long.MaxValue,
    // collapsing an arbitrarily large merge to the floor
    val ceilTasks = batchRows / 8192L + (if (batchRows % 8192L != 0) 1L else 0L)
    val ideal = math.max(4L, math.min(hi.toLong, ceilTasks)).toInt
    divisors.find(d => d >= ideal && d <= hi).getOrElse(hi)
  }

  /** Re-shape a resolved snapshot slice as synthetic read events so it can
    * union with a normalized batch. */
  def snapshotAsChanges(snap: DataFrame,
      beforeType: org.apache.spark.sql.types.DataType): DataFrame =
    snap.select(
      struct(snap.columns.filterNot(Set("_ts_ms", "_lsn", "bucket")).map(col): _*)
        .as("after"),
      lit(null).cast(beforeType).as("before"),
      lit("r").as("op"),
      col("_ts_ms").as("ts_ms"), col("_lsn").as("lsn"), col("bucket"))

  /** Latest-(ts_ms, lsn)-wins merge of a normalized batch with the
    * existing snapshot slice. The explicit repartition IS the window's
    * exchange (its HashPartitioning(key, t) satisfies the window's
    * clustering requirement, so Catalyst inserts no second one) — and
    * because the width t divides nBuckets ([[mergeWidth]]), every bucket
    * lands wholly in one task: the partitioned write emits exactly 1 file
    * per bucket instead of tasks×buckets tiny files (at 4096 buckets ×
    * 256 tasks, 4k files vs a million), at zero added shuffle cost. */
  def mergeSnapshot(batchNorm: DataFrame, existing: Option[DataFrame],
      width: Int): DataFrame = {
    // allowMissingColumns = SCHEMA EVOLUTION at the merge seam: a batch
    // decoded under a WIDER row schema (a mid-stream `tableSchema.<t>`
    // DDL gain) unions with the narrower existing snapshot — old rows
    // null-fill the new column, the standard widening semantics. The
    // reverse direction is the REPLAY case: an at-least-once redelivery
    // of a pre-evolution epoch unions its narrower rows against the
    // already-widened snapshot (they lose latest-wins anyway). Column
    // names come from explicit decode schemas, never free-form input —
    // so null-filling is evolution, not typo-masking; a TYPE change
    // still fails loudly (stageWrite's widening-only schema publish).
    val merged = existing
      .map(snapChanges =>
        batchNorm.unionByName(snapChanges, allowMissingColumns = true))
      .getOrElse(batchNorm)
      .repartition(width, Envelope.keyCol)
    val w = Window.partitionBy(Envelope.keyCol)
      .orderBy(col("ts_ms").desc, col("lsn").desc_nulls_last)
    merged
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("op") =!= "d")
      .select(col("after.*"), col("ts_ms").as("_ts_ms"), col("lsn").as("_lsn"),
        col("bucket"))
  }

  /** SCD2 merge of a normalized batch with the existing history slice:
    * the batch becomes versioned rows (intra-batch chaining via lead), the
    * existing slice's current rows close at the batch's first touch of
    * their key (any op — a delete closes without opening), then one
    * repartition does double duty — it provides the clustering the dedup
    * needs (id ⊆ (id, valid_from) ⇒ no further exchange) AND, with a
    * width dividing nBuckets, puts every bucket wholly in one task (≤1
    * file per bucket). Assumes per-key in-order delivery ([[Scd2Stream]]). */
  def mergeHistory(batchNorm: DataFrame, existing: Option[DataFrame],
      width: Int): DataFrame = {
    val w = Window.partitionBy(Envelope.keyCol)
      .orderBy(col("ts_ms"), col("lsn"))
    val batchRows = batchNorm
      .withColumn("valid_to", lead(col("ts_ms"), 1).over(w))
      .filter(col("op") =!= "d")
      .select(col("after.*"),
        col("ts_ms").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"), col("bucket"))
    val merged = existing
      .map { hist =>
        val closeTs = batchNorm.groupBy(Envelope.keyCol.as("id"))
          .agg(min(col("ts_ms")).as("_close_ts"))
        // close only when the batch's first event is strictly LATER than
        // the open version's start: always true for genuinely new events
        // under in-order delivery, and false for a committed batch's own
        // rows on replay — so a replay is a no-op, not a self-close
        val closes = col("is_current") && col("_close_ts").isNotNull &&
          col("_close_ts") > col("valid_from")
        hist.join(broadcast(closeTs), Seq("id"), "left")
          .withColumn("valid_to",
            when(closes, col("_close_ts")).otherwise(col("valid_to")))
          .withColumn("is_current", col("is_current") && !closes)
          .drop("_close_ts")
          // widening union — the schema-evolution seam (see mergeSnapshot)
          .unionByName(batchRows, allowMissingColumns = true)
      }.getOrElse(batchRows)
    merged.repartition(width, col("id")).dropDuplicates("id", "valid_from")
  }
}
