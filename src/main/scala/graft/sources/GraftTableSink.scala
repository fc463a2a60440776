package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardOpenOption}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.streaming.{BucketManifest, CommitStore, DualSink, LocalFsCommitStore, TableGroup}

/** `graft-table` — the WRITE half of the connector pair: a DataSource V2
  * streaming SINK that lands every micro-batch epoch as one transactional
  * commit on a [[graft.streaming.TableGroup]] dual-table group (snapshot +
  * SCD2 history), through Spark's `StreamingWrite` epoch commit/abort API
  * — the same connector surface Spark's own exactly-once sinks use, so
  * commit-after-apply (reference `app/consumer/consumer.py:74-75`:
  * apply the change, then commit the offset) is proven at the sink API
  * level, not only via foreachBatch.
  *
  * Input contract: raw Debezium-envelope values — any query schema with a
  * `value` column of STRING or BINARY (the Kafka reader's shape, so
  * `readStream.format("graft-cdc")` pipes straight in). Null values are
  * Kafka tombstones; they are protocol, not data
  * (`Envelope.filterTombstones` drops them before decode), and a
  * line-staged file cannot carry them — the writer skips them, which is
  * byte-equivalent to decoding them away.
  *
  * Epoch lifecycle (the V2 contract, mapped to the group's CAS log):
  *
  *  1. executors: each task's [[GraftStageWriter]] appends its rows to a
  *     task-unique staged file under `<group>/_staging/<queryId>/
  *     epoch-<epochId>/`; `DataWriter.commit()` returns the file name.
  *     Spark's commit coordinator guarantees at most one task commit per
  *     partition reaches the driver — files from failed/zombie attempts
  *     are never listed in `messages` and get swept with the epoch dir.
  *  2. driver `commit(epochId, messages)`: decode ONLY the staged files
  *     named in `messages` → [[DualSink.applyBatch]], or per routed table
  *     [[DualSink.applyBatchMulti]] (one group loop: one optimistic
  *     transaction over every table) → publish the epoch marker via
  *     [[CommitStore]] `putIfAbsent` → delete the epoch's staging dir.
  *  3. replay (crash before the engine's checkpoint advanced): Spark
  *     re-runs the epoch and calls `commit` again — the marker makes it a
  *     no-op. A crash in the window between `applyBatch` and the marker
  *     re-applies the batch, which the merges absorb (latest-wins
  *     snapshot, version-keyed history — the same replay contract the
  *     foreachBatch path crash-matrixes in `TableGroupSpec`).
  *  4. `abort(epochId, messages)`: delete the staged files — nothing was
  *     published, the group is untouched.
  *
  * Scale notes: staging is executor-parallel append-only I/O (on a real
  * cluster the staging root is an object-store prefix and each staged
  * file one PUT — the commit messages carry the names, the exact
  * pattern of Spark's own V2 file sinks); the driver's work per epoch is
  * O(commit messages) plus the group commit, whose cost is bounded by
  * TOUCHED buckets, not table size. Marker files are one small object per
  * epoch under `_epochs/<queryId>/`, reaped with the checkpoint.
  *
  * The READ half has no scan of its own: `format("graft-table").load()`
  * and [[GraftCatalog]] SQL resolve a [[GraftTableTable]] pinned to one
  * transaction, and [[GraftTableReadRule]] plans it as the same
  * manifest-file relation every other replica read uses
  * (`TableGroup.readTableAt`), pruned by [[GraftTablePushdown.select]].
  */
object GraftTableSink {
  val ShortName = "graft-table"

  /** Nominal table schema (writes accept any schema with a value column —
    * [[TableCapability.ACCEPT_ANY_SCHEMA]]). */
  val Schema: StructType =
    StructType(Seq(StructField("value", StringType, nullable = true)))

  private[sources] def stagingDir(group: String, queryId: String,
      epochId: Long): File =
    new File(new File(new File(group, "_staging"), queryId), s"epoch-$epochId")

  private[sources] def epochMarker(group: String, queryId: String,
      epochId: Long): File =
    new File(new File(new File(group, "_epochs"), queryId), f"$epochId%020d")

  /** The reserved epoch id a batch write stages under: the job's queryId
    * (a fresh UUID per write job) keys the directory, so concurrent batch
    * writers never share staging. */
  private[sources] val BatchEpoch = -1L

  /** Apply the staged files the coordinator accepted — ONLY those, never
    * a directory listing, which could include a zombie attempt's
    * duplicate rows — to the group; returns how many there were. */
  private[sources] def applyAccepted(messages: Array[WriterCommitMessage],
      group: String, nBuckets: Int, retainTxns: Int,
      route: RouteConfig): Int = {
    val files = messages.collect { case GraftStagedFile(p, n) if n > 0 => p }
    if (files.nonEmpty) {
      val spark = SparkSession.active
      applyStaged(spark, spark.read.textFile(files: _*).toDF("value"), group,
        nBuckets, retainTxns, route)
    }
    files.length
  }

  private[sources] def dropStaging(group: String, queryId: String,
      epochId: Long): Unit = {
    val staging = stagingDir(group, queryId, epochId)
    if (staging.exists())
      org.apache.commons.io.FileUtils.deleteDirectory(staging)
  }

  /** The write-side routing config, parsed once per write: when
    * `routeBySourceTable` is set, the sink dispatches each envelope by
    * `payload.source.table` into its own `<table>_snapshot` /
    * `<table>_history` pair — the reference's `schema.include.list`
    * topology (`register-postgres.json:12`) as ONE stream feeding ONE
    * transactional group. Per-table row schemas come from
    * `tableSchema.<name>` options (DDL strings — the schema-registry
    * analog); an unmapped table decodes with the default envelope row
    * schema. */
  private[sources] case class RouteConfig(bySourceTable: Boolean,
      schemas: Map[String, StructType])

  private[sources] def routeConfig(o: CaseInsensitiveStringMap): RouteConfig = {
    import scala.jdk.CollectionConverters._
    val by = Option(o.get("routeBySourceTable")).exists(_.toBoolean)
    val schemas = o.asScala.collect {
      case (k, ddl) if k.toLowerCase.startsWith("tableschema.") =>
        k.substring("tableschema.".length) -> StructType.fromDDL(ddl)
    }.toMap
    RouteConfig(by, schemas)
  }

  /** Apply one staged epoch/batch of raw envelope lines to the group —
    * the single-pair default, or the per-source-table fan-out under
    * [[RouteConfig]]. Shared by the streaming epoch commit and the batch
    * commit (identical semantics; only the staging layout differs). */
  private[sources] def applyStaged(spark: SparkSession, raw: DataFrame,
      group: String, nBuckets: Int, retainTxns: Int,
      route: RouteConfig): Unit = {
    import graft.cdc.Envelope
    if (!route.bySourceTable) {
      DualSink.applyBatch(
        Envelope.assertKnownOps(Envelope.decode(raw)),
        group, nBuckets, retainTxns)
    } else {
      import spark.implicits._
      // the staged lines are re-read once per slice below — pin them
      // (bounded: one epoch's rows)
      val withTbl = raw.withColumn("_tbl",
        org.apache.spark.sql.functions.get_json_object(
          col("value"), "$.payload.source.table"))
        .localCheckpoint(true)
      // distinct source tables: bounded by the captured topology (the
      // reference's include list), not by data volume
      // null check BEFORE the sort: Ordering.String NPEs on a null
      // element, which would mask this diagnostic with an opaque
      // NullPointerException when a batch mixes null and non-null routes
      val rawTables = withTbl.select(col("_tbl")).distinct()
        .as[String].collect()
      require(!rawTables.contains(null),
        "graft-table: routeBySourceTable requires every envelope to " +
          "carry payload.source.table — a null route would silently " +
          "drop changes")
      val tables = rawTables.sorted
      val slices = tables.toSeq.map { t =>
        // CaseInsensitiveStringMap lowercases option KEYS, so the parsed
        // schema map's names are lowercase — match the route's table name
        // case-insensitively or a mixed-case source.table would silently
        // fall back to the default schema
        val row = route.schemas.getOrElse(t.toLowerCase, Envelope.rowSchema)
        t -> Envelope.assertKnownOps(Envelope.decode(
          withTbl.filter(col("_tbl") === t).select(col("value")), row = row))
      }
      DualSink.applyBatchMulti(slices, group, nBuckets, retainTxns)
    }
  }
}

class GraftTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = GraftTableSink.ShortName
  // Nominal envelope schema, ALWAYS: inferSchema's result is only the
  // argument Spark hands back to getTable, which ignores it — the READ
  // path resolves the real schema in GraftTableTable.schema(), and the
  // WRITE path accepts any schema (ACCEPT_ANY_SCHEMA). Resolving here
  // made every streaming-write start against a committed group pay a
  // full manifest + parquet-footer resolution for a value nothing reads.
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftTableSink.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftTableTable(new CaseInsensitiveStringMap(properties))
}

/** The connector READ half's option parsing: which table of the group,
  * at which transaction. */
private[sources] object GraftTableRead {
  def table(o: CaseInsensitiveStringMap): String =
    Option(o.get("table")).getOrElse(DualSink.SnapshotTable)

  /** The transaction a read of these options is pinned to: `versionAsOf`
    * when given, else the live transaction; None before the first
    * commit (a bare versionAsOf on a virgin group fails loudly). */
  def pinVersion(o: CaseInsensitiveStringMap): Option[Long] = {
    val group = Option(o.get("path")).getOrElse(throw
      new IllegalArgumentException(
        "graft-table: path (the table-group directory) is required"))
    val vOpt = Option(o.get("versionAsOf")).map(_.toLong)
    TableGroup.currentTxn(group) match {
      case None =>
        vOpt.foreach(v => throw new IllegalArgumentException(
          s"graft-table: versionAsOf $v on a group with no committed " +
            s"transaction: $group"))
        None
      case Some(live) => Some(vOpt.getOrElse(live))
    }
  }

  def tableDir(o: CaseInsensitiveStringMap): String =
    s"${o.get("path")}/${table(o)}"
}

/** Driver-side read-path observability (file selection runs on the
  * driver at plan time, in [[GraftTablePushdown.select]]): the last
  * selection's file/bucket counts vs the version's total live buckets.
  * For specs and the SCALE files-read measurement — a single-reader
  * probe, not a concurrent metrics surface. */
private[graft] object GraftTableReadStats {
  @volatile var lastFiles: Int = -1
  @volatile var lastBuckets: Int = -1
  @volatile var lastTotalBuckets: Int = -1
  def record(files: Int, buckets: Int, totalBuckets: Int): Unit = {
    lastFiles = files; lastBuckets = buckets; lastTotalBuckets = totalBuckets
  }
}

/** A `graft-table` table: the sink's write target and, for batch reads,
  * one table of the group at one transaction. `pinned` is the
  * (transaction, group manifest) a caller already resolved
  * ([[GraftCatalog]]); without it the options' `versionAsOf`, else the
  * live transaction, is pinned on first use. */
class GraftTableTable(options: CaseInsensitiveStringMap,
    pinned: Option[(Long, TableGroup.GroupManifest)] = None)
    extends Table with SupportsWrite with SupportsRead {
  private val group = Option(options.get("path")).getOrElse(
    throw new IllegalArgumentException(
      "graft-table: path (the table-group directory) is required"))
  private val nBuckets =
    Option(options.get("nBuckets")).map(_.toInt).getOrElse(64)
  private val retainTxns =
    Option(options.get("retainTxns")).map(_.toInt).getOrElse(1)

  override def name(): String = s"graft-table:$group"

  /** The READ half: VERSION-AS-OF over the bucket parquet. The version is
    * pinned ONCE, on first use rather than at construction (a streaming
    * write never resolves it), and the table's live files at that
    * version become the manifest-file relation
    * ([[graft.streaming.BucketManifest.relation]]) that
    * `TableGroup.readTableAt` builds — so [[schema]] and the files read
    * come from one log entry. [[GraftTableReadRule]] plans every batch
    * read of this table as that relation: column pruning, filter
    * pushdown and file pruning (key bucket residues, `_file_stats`
    * bounds) are Spark's parquet scan over a [[graft.streaming
    * .ManifestFileIndex]], and a keyed lookup meets
    * [[GraftLookupStrategy]]. A DataFrame reads the transaction that was
    * live when it was analyzed, as `TableGroup.readTable` does: within
    * `retainTxns` later commits it keeps reading that version; once the
    * version's files are collected it fails loudly on a missing file.
    * None before the first commit. */
  private lazy val readRelation: Option[LogicalRelation] =
    pinned.orElse(GraftTableRead.pinVersion(options).map(v =>
        // no log entry = outside the retention window
        (v, TableGroup.groupManifest(group, v).getOrElse(Map.empty))))
      .map { case (v, manifest) =>
        val t = GraftTableRead.table(options)
        val entries = manifest.getOrElse(t,
          throw new IllegalArgumentException(
            s"graft-table: cannot resolve table '$t' at version $v of " +
              s"$group (outside the retention window, or an unknown table " +
              "name)"))
        BucketManifest.relation(SparkSession.active, s"$group/$t", entries)
          .getOrElse(throw new IllegalStateException(
            s"graft-table: table '$t' resolved to zero files at version " +
              s"$v of $group — a committed table always has live files"))
      }

  /** The relation a batch read of this table plans as. */
  private[sources] def relation: LogicalRelation = {
    // a bucketKey option that disagrees with the stamped key fails the
    // read loudly
    GraftTablePushdown.checkBucketKey(options)
    readRelation.getOrElse(throw new IllegalArgumentException(
      s"graft-table: no committed transaction to read at $group"))
  }

  override def schema(): StructType =
    readRelation.fold(GraftTableSink.Schema)(_.schema)
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.STREAMING_WRITE, TableCapability.BATCH_WRITE,
      TableCapability.BATCH_READ, TableCapability.ACCEPT_ANY_SCHEMA).asJava

  // BATCH_READ stays so load() and catalog resolution produce the
  // relation GraftTableReadRule rewrites; a session without the rule
  // fails here instead of reading through a second path
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    throw new UnsupportedOperationException("graft-table: batch reads " +
      "need graft.GraftExtensions (SparkSession.builder().withExtensions(" +
      "new graft.GraftExtensions), or spark.sql.extensions=" +
      "graft.GraftExtensions)")

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val schema = info.schema()
    val idx = schema.fieldNames.indexOf("value")
    require(idx >= 0, "graft-table: the input must have a 'value' column " +
      "(raw envelope JSON, string or binary)")
    val isBinary = schema.fields(idx).dataType match {
      case BinaryType => true
      case StringType => false
      case other => throw new IllegalArgumentException(
        s"graft-table: 'value' must be STRING or BINARY, got $other")
    }
    val queryId = info.queryId()
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite =
          new GraftTableStreamingWrite(
            group, queryId, idx, isBinary, nBuckets, retainTxns,
            GraftTableSink.routeConfig(options))
        override def toBatch: BatchWrite =
          new GraftTableBatchWrite(
            group, queryId, idx, isBinary, nBuckets, retainTxns,
            GraftTableSink.routeConfig(options))
      }
    }
  }
}

/** Plans every batch read of a [[GraftTableTable]] —
  * `format("graft-table").load()` and [[GraftCatalog]] SQL — as that
  * table's manifest-file relation, keeping the V2 relation's output
  * attributes: the route Delta's `DeltaAnalysis` takes from
  * `DeltaTableV2` to its file-index relation. Reads then meet
  * [[GraftLookupStrategy]] or Spark's `FileSourceStrategy` through the
  * same leaf as `TableGroup.readTableAt`. Writes never reach it: the
  * batch write's `AppendData` and the streaming sink hold their table
  * outside the plan's children. Injected by `GraftExtensions`. */
class GraftTableReadRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTableTable] =>
      r.table.asInstanceOf[GraftTableTable].relation.copy(output = r.output)
  }
}

/** File-list pruning for every replica read: [[select]] is the one
  * pruning decision, called by the manifest-file relation's index
  * ([[graft.streaming.ManifestFileIndex]]) for Spark's parquet scan and
  * for [[GraftLookupStrategy]]'s driver-local lookup. The write path
  * buckets rows by `pmod(murmur3(key), nBuckets)`
  * ([[graft.streaming.BucketScheme]] stamps the scheme on the
  * directory), so an equality/IN predicate on the key column pins the
  * buckets its rows can live in — the same static pruning discipline
  * the repo's BM25 term and IVF cell reads use. Predicates on the
  * `bucket` partition column itself prune directly. Unmarked directories
  * or a foreign scheme ⇒ no pruning (never guessed); the hash is
  * evaluated driver-side through the SAME Catalyst expression the merge
  * used (`Murmur3Hash`, seed 42), so reader and writer can never
  * disagree. Filters arrive as Spark's own translation of the scan's
  * data filters; every filter still applies to the rows read.
  */
private[graft] object GraftTablePushdown {
  import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
  import org.apache.spark.sql.sources._
  import graft.streaming.BucketScheme

  /** A `bucketKey` read option that disagrees with the layout's stamped
    * key column is a misconfiguration that would silently UNDER-prune
    * (matching rows vanish) — refuse loudly. The marker is what the writer
    * hashed; the option is never used for pruning. */
  def checkBucketKey(opts: CaseInsensitiveStringMap): Unit =
    Option(opts.get("bucketKey")).foreach { o =>
      BucketScheme.readScheme(GraftTableRead.tableDir(opts))
        .flatMap(_.keyCol).filter(_ != o).foreach { k =>
          throw new IllegalArgumentException(
            s"bucketKey option '$o' conflicts with the directory's stamped " +
              s"bucketing key column '$k' — pruning residues computed from " +
              "the wrong column would silently drop matching files. Remove " +
              "the option (the marker is authoritative).")
        }
    }

  /** Bucket residues of `pushed` over a table stamped with `scheme` (its
    * directory's marker, [[BucketScheme.readScheme]]; None = unmarked).
    * `keyOnly` counts only predicates on the bucket KEY (equality, `IN`,
    * `<=>`): Some then means the filters pin the key — the lookup shape. */
  def bucketsAt(scheme: Option[BucketScheme.SchemeInfo], schema: StructType,
      pushed: Seq[Filter], keyOnly: Boolean = false): Option[Seq[Long]] = {
    // the layout's ACTUAL scheme and key column, from the directory
    // marker — never the reader's options (a stale nBuckets would prune
    // WRONG buckets). Legacy two-field markers carry no key: key-derived
    // pruning is skipped there, never guessed (direct `bucket`-column
    // residues below still apply — they come from directory values, not
    // the hash).
    val key = scheme.flatMap(_.keyCol).orNull
    val keyType = Option(key).flatMap(k =>
      schema.find(_.name == k).map(_.dataType))
    def keyBucket(v: Any): Option[Long] = for {
      info <- scheme if info.hashFn == BucketScheme.Murmur3Pmod
      dt <- keyType
      h <- scala.util.Try(Murmur3Hash(Seq(Literal.create(v, dt)), 42)
        .eval(null).asInstanceOf[Int]).toOption
    } yield {
      val n = info.nBuckets
      ((h % n) + n).toLong % n
    }
    // a conjunct's residue set; None = that conjunct doesn't constrain
    // the bucket. An empty SET is meaningful: the predicate matches no
    // possible key (IN over only nulls) — zero buckets to read.
    def residues(f: Filter): Option[Set[Long]] = f match {
      case EqualTo(a, v) if a == key => keyBucket(v).map(Set(_))
      // null-safe equality maps too: the merge bucketed a null key at
      // pmod(murmur3(null)=seed, n), the same value keyBucket(null) yields
      // (the optimizer rewrites `key <=> null` to IsNull)
      case EqualNullSafe(a, v) if a == key => keyBucket(v).map(Set(_))
      case IsNull(a) if a == key => keyBucket(null).map(Set(_))
      case In(a, vs) if a == key =>
        // nulls inside IN can never match — residues come from the rest
        val bs = vs.toSeq.filter(_ != null).map(keyBucket)
        if (bs.forall(_.isDefined)) Some(bs.flatten.toSet) else None
      case EqualTo("bucket", v: Number) if !keyOnly => Some(Set(v.longValue))
      case In("bucket", vs) if !keyOnly && vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Number]) =>
        Some(vs.map(_.asInstanceOf[Number].longValue).toSet)
      case Or(l, r) =>
        for { a <- residues(l); b <- residues(r) } yield a ++ b
      case And(l, r) => (residues(l), residues(r)) match {
        case (Some(a), Some(b)) => Some(a intersect b)
        case (a, b) => a.orElse(b)
      }
      case _ => None
    }
    val sets = pushed.flatMap(residues)
    if (sets.isEmpty) None
    else Some(sets.reduce(_ intersect _).toSeq.sorted)
  }

  /** The live files of `entries` (bucket → table-relative paths of the
    * table at `dir`, stamped with `scheme`) a row matching every filter
    * of `pushed` can live in: the key's bucket residues ([[bucketsAt]]),
    * then the per-file `_file_stats` bounds
    * ([[fileCanMatch]]) — BEFORE any parquet footer is opened.
    * Conservative end to end: a file without stats is never pruned, and
    * every filter still applies to the rows read. Records the selection
    * in [[GraftTableReadStats]]. */
  def select(dir: String, entries: Map[Long, Seq[String]],
      schema: StructType, pushed: Seq[Filter],
      scheme: Option[BucketScheme.SchemeInfo]): Map[Long, Seq[String]] = {
    val live = entries.filter(_._2.nonEmpty)
    val byKey = bucketsAt(scheme, schema, pushed) match {
      case Some(bs) => live.view.filterKeys(bs.toSet).toMap
      case None => live
    }
    val stats: Map[String, Map[String, graft.streaming.ColStats]] =
      if (pushed.isEmpty || byKey.isEmpty) Map.empty
      else graft.streaming.BucketManifest.readFileStats(dir)
    val selected =
      if (stats.isEmpty) byKey
      else byKey.view.mapValues(_.filter(rel => pushed.forall(
        fileCanMatch(_, stats.getOrElse(rel, Map.empty))))).toMap
        .filter(_._2.nonEmpty)
    GraftTableReadStats.record(
      selected.values.map(_.size).sum, selected.size, live.size)
    selected
  }

  /** Can a file whose per-column typed bounds are `stats` contain a row
    * matching `f`? `true` = cannot exclude (keep the file) — the
    * conservative default for every filter shape, column, or LITERAL
    * REPRESENTATION the stats don't cover. min/max describe NON-NULL
    * values only, so pruning is restricted to predicates a null row can
    * never satisfy (comparisons, IN with non-null values, prefix match);
    * IsNull/EqualNullSafe/Not always keep.
    *
    * Each [[graft.streaming.ColStats]] shape admits only literals of its
    * OWN representation (the r15 ADVICE contract): long stats take
    * integral literals only — a BigDecimal/Double longValue TRUNCATES
    * (123.45 → 123) and could wrongly exclude a file; date stats take
    * Date/LocalDate; string stats take String. Anything else keeps the
    * file. String bounds may be truncation-LOOSENED (min lowered, max
    * raised), which every rule below tolerates: each prunes only when a
    * one-sided bound already excludes the predicate. */
  def fileCanMatch(f: Filter,
      stats: Map[String, graft.streaming.ColStats]): Boolean = {
    import graft.streaming.ColStats
    def lv(v: Any): Option[Long] = v match {
      case n: java.lang.Long => Some(n.longValue)
      case n: java.lang.Integer => Some(n.longValue)
      case n: java.lang.Short => Some(n.longValue)
      case n: java.lang.Byte => Some(n.longValue)
      case _ => None
    }
    def dv(v: Any): Option[Long] = v match {
      case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
      case d: java.time.LocalDate => Some(d.toEpochDay)
      case _ => None
    }
    def sv(v: Any): Option[String] = v match {
      case s: String => Some(s)
      case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
      case _ => None
    }
    // signum of (min cmp literal, max cmp literal) under the column's
    // own ordering; None = stats or literal unusable → never prune
    def cmp(a: String, v: Any): Option[(Int, Int)] = stats.get(a).flatMap {
      case ColStats.Longs(mn, mx) =>
        lv(v).map(x => (java.lang.Long.compare(mn, x),
          java.lang.Long.compare(mx, x)))
      case ColStats.Dates(mn, mx) =>
        dv(v).map(x => (java.lang.Long.compare(mn, x),
          java.lang.Long.compare(mx, x)))
      case ColStats.Strs(mn, mx) =>
        sv(v).map(x => (mn.compareTo(x), mx.compareTo(x)))
    }
    f match {
      case EqualTo(a, v) =>
        cmp(a, v).forall { case (mnC, mxC) => mnC <= 0 && mxC >= 0 }
      case GreaterThan(a, v) => cmp(a, v).forall(_._2 > 0)
      case GreaterThanOrEqual(a, v) => cmp(a, v).forall(_._2 >= 0)
      case LessThan(a, v) => cmp(a, v).forall(_._1 < 0)
      case LessThanOrEqual(a, v) => cmp(a, v).forall(_._1 <= 0)
      case In(a, vs) =>
        if (!stats.contains(a)) true
        else vs.exists {
          case null => false // null never matches IN
          case v => cmp(a, v)
            .forall { case (mnC, mxC) => mnC <= 0 && mxC >= 0 }
        }
      case StringStartsWith(a, p) if p != null =>
        stats.get(a) match {
          case Some(ColStats.Strs(mn, mx)) =>
            // every value < p ⇒ none reaches the prefix; and a LOWER
            // bound that is > p without CARRYING the prefix sits above
            // every `p`-prefixed string (they differ from mn strictly
            // below it at the first divergent char) ⇒ none either
            mx.compareTo(p) >= 0 &&
              !(mn.compareTo(p) > 0 && !mn.startsWith(p))
          case _ => true
        }
      case And(l, r) => fileCanMatch(l, stats) && fileCanMatch(r, stats)
      case Or(l, r) => fileCanMatch(l, stats) || fileCanMatch(r, stats)
      case _ => true
    }
  }
}

/** Batch (append) write — the initial-snapshot / backfill load a user
  * runs BEFORE streaming: `df.write.format("graft-table").option("path",
  * dir).mode("append").save()` applies the whole frame as ONE
  * transaction on the group. Same stage-then-commit shape as the
  * streaming epochs (executors stage, coordinator-accepted messages name
  * the files, driver commit = one [[DualSink]] group-transaction CAS); Spark
  * calls a batch job's commit exactly once, so no idempotence marker —
  * a retried JOB re-runs the whole write as a NEW transaction, which the
  * latest-wins merges absorb the same way a replayed epoch does. */
class GraftTableBatchWrite(group: String, queryId: String,
    valueIdx: Int, isBinary: Boolean, nBuckets: Int, retainTxns: Int,
    route: GraftTableSink.RouteConfig =
      GraftTableSink.RouteConfig(bySourceTable = false, Map.empty))
    extends BatchWrite {
  import GraftTableSink.BatchEpoch

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftStageWriterFactory(group, queryId, valueIdx, isBinary)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    GraftTableSink.applyAccepted(messages, group, nBuckets, retainTxns, route)
    GraftTableSink.dropStaging(group, queryId, BatchEpoch)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftTableSink.dropStaging(group, queryId, BatchEpoch)
}

/** One staged file per committed task per epoch; see [[GraftTableSink]]. */
final case class GraftStagedFile(path: String, rows: Long)
    extends WriterCommitMessage

class GraftTableStreamingWrite(group: String, queryId: String,
    valueIdx: Int, isBinary: Boolean, nBuckets: Int, retainTxns: Int,
    route: GraftTableSink.RouteConfig =
      GraftTableSink.RouteConfig(bySourceTable = false, Map.empty))
    extends StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftStageWriterFactory(group, queryId, valueIdx, isBinary)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val marker = GraftTableSink.epochMarker(group, queryId, epochId)
    if (CommitStore.active.get(marker).isEmpty) {
      val files = GraftTableSink.applyAccepted(messages, group, nBuckets,
        retainTxns, route)
      // apply-then-commit: the marker (this sink's "offset commit")
      // publishes strictly AFTER the data transaction, so a crash between
      // the two replays the batch into idempotent merges — never skips it
      CommitStore.active.putIfAbsent(marker,
        s"""{"epoch":$epochId,"files":$files}"""
          .getBytes(StandardCharsets.UTF_8))
    }
    GraftTableSink.dropStaging(group, queryId, epochId)
    // marker retention: the engine replays at most the epochs after the
    // checkpointed commit, so markers far behind the current epoch can
    // never be consulted again — reap them instead of accumulating one
    // object per epoch forever (zero-padded names make the cutoff a name
    // comparison). The CommitStore seam has no prefix-list operation, so
    // this local directory walk is only correct for the LocalFs adapter
    // and is gated on it; object-store deployments expire the _epochs/
    // prefix with a lifecycle rule instead (their native mechanism).
    if (CommitStore.active eq LocalFsCommitStore)
      Option(marker.getParentFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName < f"${epochId - MarkerRetention}%020d")
        .foreach(_.delete())
  }

  /** How many trailing epoch markers stay consultable — far beyond the
    * single in-flight epoch the engine can actually re-deliver. */
  private val MarkerRetention = 100L

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    GraftTableSink.dropStaging(group, queryId, epochId)
}

/** The staged-file writer factory of both write modes — a batch job
  * stages under [[GraftTableSink.BatchEpoch]]. A NAMED class with only
  * simple fields: the factory ships to executors, and an anonymous one
  * would close over the (non-serializable) write instance. */
class GraftStageWriterFactory(group: String, queryId: String,
    valueIdx: Int, isBinary: Boolean)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId, GraftTableSink.BatchEpoch)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftStageWriter(
      GraftTableSink.stagingDir(group, queryId, epochId),
      partitionId, taskId, valueIdx, isBinary)
}

/** Task-side staged-file writer. The file name is attempt-unique
  * (partition + taskId): a speculative or retried attempt writes its OWN
  * file, and only the attempt whose `commit()` the coordinator accepts
  * gets its name into the epoch's message set. */
class GraftStageWriter(dir: File, partitionId: Int, taskId: Long,
    valueIdx: Int, isBinary: Boolean) extends DataWriter[InternalRow] {

  private val file = new File(dir, f"part-$partitionId%05d-$taskId.jsonl")
  private var out: java.io.BufferedWriter = _
  private var rows = 0L

  override def write(record: InternalRow): Unit = {
    if (record.isNullAt(valueIdx)) return // tombstone: protocol, not data
    val s =
      if (isBinary)
        new String(record.getBinary(valueIdx), StandardCharsets.UTF_8)
      else record.getUTF8String(valueIdx).toString
    require(!s.contains("\n") && !s.contains("\r"),
      "graft-table: staged records are one-per-line; envelope JSON never " +
        "contains raw newlines (they would corrupt the staged file)")
    if (out == null) {
      dir.mkdirs()
      out = Files.newBufferedWriter(file.toPath, StandardCharsets.UTF_8,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    }
    out.write(s)
    out.write('\n')
    rows += 1L
  }

  override def commit(): WriterCommitMessage = {
    if (out != null) { out.flush(); out.close(); out = null }
    GraftStagedFile(if (rows > 0) file.getAbsolutePath else "", rows)
  }

  override def abort(): Unit = {
    if (out != null) { out.close(); out = null }
    Files.deleteIfExists(file.toPath)
  }

  override def close(): Unit = if (out != null) { out.close(); out = null }
}
