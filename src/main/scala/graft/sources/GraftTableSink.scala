package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardOpenOption}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, TableScan}
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.streaming.{CommitStore, DualSink, LocalFsCommitStore, TableGroup}

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
  // path resolves the real schema in GraftTableTable.schema() (memoized
  // per (group, table, version) in GraftTableRead.schemaAt), and the
  // WRITE path accepts any schema (ACCEPT_ANY_SCHEMA). Resolving here
  // made every streaming-write start against a committed group pay a
  // full manifest + parquet-footer resolution for a value nothing reads.
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftTableSink.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftTableTable(new CaseInsensitiveStringMap(properties))
}

/** The connector READ half's version/table resolution, shared by schema
  * inference and the scan itself. */
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

  /** The table's live-file entries at the PINNED transaction `v` — a
    * version outside the retention window (no log entry) or an unknown
    * table name fails loudly. */
  def entriesAt(o: CaseInsensitiveStringMap,
      v: Long): TableGroup.TableEntries = {
    val group = o.get("path")
    val t = table(o)
    TableGroup.groupManifest(group, v).flatMap(_.get(t)).getOrElse(
      throw new IllegalArgumentException(
        s"graft-table: cannot resolve table '$t' at version $v of " +
          s"$group (outside the retention window, or an unknown table " +
          "name)"))
  }

  def tableDir(o: CaseInsensitiveStringMap): String =
    s"${o.get("path")}/${table(o)}"

  /** Resolve the requested table at transaction `v` over a file index of
    * its live files ([[graft.streaming.ManifestFileIndex]]), which prunes
    * the file list by the filters Spark pushes into the scan — key bucket
    * residues and `_file_stats` bounds ([[GraftTablePushdown.select]]).
    * None = the version has no live files (a valid empty table). */
  def resolveAt(spark: SparkSession, o: CaseInsensitiveStringMap,
      v: Long): Option[DataFrame] =
    graft.streaming.BucketManifest.resolveEntries(
      spark, tableDir(o), entriesAt(o, v), None)

  /** Schema of (group, table, version) — memoized PROCESS-WIDE: the
    * triple names an IMMUTABLE log entry, so its schema can never change,
    * and without the memo one query resolves the manifest + parquet
    * footers up to three times (table construction, scan readSchema,
    * buildScan). */
  private val schemaMemo = scala.collection.concurrent.TrieMap
    .empty[(String, String, Long), StructType]
  def schemaAt(spark: SparkSession, o: CaseInsensitiveStringMap,
      v: Long): StructType =
    schemaMemo.getOrElseUpdate((o.get("path"), table(o), v),
      resolveAt(spark, o, v).getOrElse(throw new IllegalStateException(
        s"graft-table: table '${table(o)}' resolved to zero files at " +
          s"version $v of ${o.get("path")} — a committed table always " +
          "has live files")).schema)
}

/** Driver-side read-path observability (the scan resolution runs on the
  * driver at build time): the last resolution's selected file/bucket
  * counts vs the version's total live buckets. For specs and the SCALE
  * files-read measurement — a single-reader probe, not a concurrent
  * metrics surface. */
private[graft] object GraftTableReadStats {
  @volatile var lastFiles: Int = -1
  @volatile var lastBuckets: Int = -1
  @volatile var lastTotalBuckets: Int = -1
  def record(files: Int, buckets: Int, totalBuckets: Int): Unit = {
    lastFiles = files; lastBuckets = buckets; lastTotalBuckets = totalBuckets
  }
}

class GraftTableTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsWrite with SupportsRead {
  private val group = Option(options.get("path")).getOrElse(
    throw new IllegalArgumentException(
      "graft-table: path (the table-group directory) is required"))
  private val nBuckets =
    Option(options.get("nBuckets")).map(_.toInt).getOrElse(64)
  private val retainTxns =
    Option(options.get("retainTxns")).map(_.toInt).getOrElse(1)

  override def name(): String = s"graft-table:$group"
  // memoized per instance AND per (group, table, version) process-wide
  // (GraftTableRead.schemaAt): Spark consults Table.schema() repeatedly
  // during analysis and each resolution re-reads manifest + footers
  private lazy val resolvedSchema: StructType =
    GraftTableRead.pinVersion(options)
      .map(GraftTableRead.schemaAt(SparkSession.active, options, _))
      .getOrElse(GraftTableSink.Schema)
  override def schema(): StructType = resolvedSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.STREAMING_WRITE, TableCapability.BATCH_WRITE,
      TableCapability.BATCH_READ, TableCapability.ACCEPT_ANY_SCHEMA).asJava

  /** The READ half: VERSION-AS-OF over the bucket parquet, resolved from
    * the transaction log ([[GraftTableRead.resolveAt]]) and served
    * through Spark's OWN parquet scan via the public [[V1Scan]]
    * delegation seam (the route Spark's JDBC V2 connector takes) — the
    * file listing is the connector's job, the columnar read stays
    * Spark's. Column pruning pushes through to the inner relation, and
    * FILTERS push down two ways ([[GraftTablePushdown]]): every
    * translatable predicate re-applies on the inner parquet read (footer
    * min/max row-group skipping), and equality/IN predicates on the
    * bucket KEY map through the stamped murmur3-pmod scheme to a bucket
    * residue set that prunes the FILE LIST itself — a keyed lookup
    * through the connector reads 1/nBuckets of the version's live files
    * instead of all of them. */
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    // merged view: the reader's load() options land here in `o`; the
    // table-construction options (path) came through the constructor
    val merged = new java.util.HashMap[String, String](options)
    merged.putAll(o)
    val opts = new CaseInsensitiveStringMap(merged)
    val tableSchema = resolvedSchema
    new ScanBuilder with SupportsPushDownRequiredColumns
        with SupportsPushDownFilters {
      private var required: Option[StructType] = None
      private var accepted: Array[sources.Filter] = Array.empty
      override def pruneColumns(s: StructType): Unit = required = Some(s)
      override def pushFilters(
          filters: Array[sources.Filter]): Array[sources.Filter] = {
        accepted = filters.filter(
          GraftTablePushdown.toColumn(_, tableSchema).isDefined)
        // ALL filters stay post-scan: the pushdown is file/row-group
        // PRUNING, not exact evaluation — Spark re-applies above, the
        // same inexact-pushdown contract the parquet source uses
        filters
      }
      override def pushedFilters(): Array[sources.Filter] = accepted
      override def build(): Scan = new GraftTableScan(opts, required, accepted)
    }
  }

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

/** The VERSION-AS-OF scan: resolves the table's live-file set from the
  * requested transaction's log entry at plan time, applies the
  * translatable filters on the inner parquet read (its file index prunes
  * the file list to the bucket residues and `_file_stats` bounds they
  * imply; parquet skips row groups by footer stats), prunes to the
  * required columns, and hands Spark a V1 relation whose RDD is that
  * inner read — one resolution per scan, immutable thereafter (the
  * long-running reader contract: a resolved transaction keeps scanning
  * its own files regardless of later commits, within the retention
  * window). A keyed lookup under `GraftLookupStrategy.LookupRowMax` never builds
  * the inner read: `GraftLookupStrategy` plans it from [[lookupFiles]]. */
class GraftTableScan(opts: CaseInsensitiveStringMap,
    required: Option[StructType],
    pushed: Array[sources.Filter] = Array.empty) extends V1Scan {

  // a bucketKey option that disagrees with the stamped key fails the read
  // loudly, whichever path plans it
  GraftTablePushdown.checkBucketKey(opts)

  // the transaction is pinned ONCE, at scan construction: readSchema
  // (analysis) and buildScan (execution) then resolve the SAME immutable
  // log entry, so a live read cannot observe one version at plan time
  // and another at execution (a racing commit, schema evolution between
  // transactions) — nor two versions across two actions on one plan
  private val pinnedVersion: Long =
    GraftTableRead.pinVersion(opts).getOrElse(
      throw new IllegalArgumentException(
        s"graft-table: no committed transaction to read at " +
          s"${opts.get("path")}"))

  private lazy val fullSchema: StructType =
    GraftTableRead.schemaAt(SparkSession.active, opts, pinnedVersion)

  /** The pinned version's files a keyed lookup reads — (table dir, data
    * schema, bucket → absolute paths) after bucket and `_file_stats`
    * pruning — or None when the pushed filters do not pin the key.
    * Resolves the log entry only: no inner frame is planned. */
  private[sources] def lookupFiles
      : Option[(String, StructType, Map[Long, Seq[String]])] = {
    val dir = GraftTableRead.tableDir(opts)
    if (GraftTablePushdown.bucketsAt(dir, fullSchema, pushed.toSeq,
        keyOnly = true).isEmpty) None
    else Some((dir, StructType(fullSchema.filterNot(_.name == "bucket")),
      GraftTablePushdown.select(dir,
        GraftTableRead.entriesAt(opts, pinnedVersion), fullSchema,
        pushed.toSeq).map { case (b, fs) => b -> fs.map(f => s"$dir/$f") }))
  }

  private def resolved(spark: SparkSession): DataFrame = {
    val base = GraftTableRead.resolveAt(spark, opts, pinnedVersion).getOrElse(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], fullSchema))
    // the filters re-apply on the inner read: its file index prunes the
    // file list by them, and parquet skips row groups by footer stats
    val filtered = GraftTablePushdown.condition(pushed, fullSchema) match {
      case Some(c) => base.filter(c)
      case None => base
    }
    required match {
      case Some(s) => filtered.select(s.fieldNames.map(col).toSeq: _*)
      case None => filtered
    }
  }

  override def readSchema(): StructType = required.getOrElse(fullSchema)

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = readSchema()
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
        resolved(context.sparkSession).rdd
    }.asInstanceOf[T]
}

/** Filter translation for the connector read, two consumers:
  *
  *  - [[condition]]: the pushed filters as ONE Catalyst condition applied
  *    to the inner parquet DataFrame — Spark's parquet source then gets
  *    its native footer-stats pushdown, so row groups whose min/max
  *    exclude the predicate never decompress. Conservative: a filter
  *    translates only when every attribute it references is a plain
  *    top-level column of the table schema.
  *  - [[select]]: the file-list pruning, for the connector's lookup
  *    path and for every manifest-resolved relation's file index
  *    ([[graft.streaming.ManifestFileIndex]]). The write path buckets rows by
  *    `pmod(murmur3(key), nBuckets)` ([[graft.streaming.BucketScheme]]
  *    stamps the scheme on the directory), so an equality/IN predicate on
  *    the key column pins the buckets its rows can live in — the same
  *    static pruning discipline the repo's BM25 term and IVF cell reads
  *    use, now at the connector surface. Predicates on the `bucket`
  *    partition column itself prune directly. Unmarked directories or a
  *    foreign scheme ⇒ no pruning (never guessed); the hash is evaluated
  *    driver-side through the SAME Catalyst expression the merge used
  *    (`Murmur3Hash`, seed 42), so reader and writer can never disagree.
  */
private[graft] object GraftTablePushdown {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
  import org.apache.spark.sql.functions.lit
  import org.apache.spark.sql.sources._
  import graft.streaming.BucketScheme

  /** Catalyst column for `f`, or None when any referenced attribute is
    * not a plain top-level column (nested/backticked names stay
    * untranslated — correctness over coverage). */
  def toColumn(f: Filter, schema: StructType): Option[Column] = {
    def ref(a: String): Option[Column] =
      if (!a.contains("`") && schema.fieldNames.contains(a))
        Some(col(s"`$a`"))
      else None
    f match {
      case EqualTo(a, v) => ref(a).map(_ === lit(v))
      case EqualNullSafe(a, v) => ref(a).map(_ <=> lit(v))
      case GreaterThan(a, v) => ref(a).map(_ > lit(v))
      case GreaterThanOrEqual(a, v) => ref(a).map(_ >= lit(v))
      case LessThan(a, v) => ref(a).map(_ < lit(v))
      case LessThanOrEqual(a, v) => ref(a).map(_ <= lit(v))
      case In(a, vs) => ref(a).map(_.isin(vs.toSeq: _*))
      case IsNull(a) => ref(a).map(_.isNull)
      case IsNotNull(a) => ref(a).map(_.isNotNull)
      case StringStartsWith(a, v) => ref(a).map(_.startsWith(v))
      case StringEndsWith(a, v) => ref(a).map(_.endsWith(v))
      case StringContains(a, v) => ref(a).map(_.contains(v))
      case And(l, r) =>
        for { cl <- toColumn(l, schema); cr <- toColumn(r, schema) }
          yield cl && cr
      case Or(l, r) =>
        for { cl <- toColumn(l, schema); cr <- toColumn(r, schema) }
          yield cl || cr
      case Not(c) => toColumn(c, schema).map(!_)
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }

  /** All translatable filters as one conjunction (None when nothing
    * translates). */
  def condition(pushed: Array[Filter], schema: StructType): Option[Column] =
    pushed.flatMap(toColumn(_, schema)).reduceOption(_ && _)

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

  /** Bucket residues the pushed filters pin the read to; None =
    * unconstrained (read every live bucket). */
  def buckets(opts: CaseInsensitiveStringMap, schema: StructType,
      pushed: Array[Filter]): Option[Seq[Long]] = {
    checkBucketKey(opts)
    bucketsAt(GraftTableRead.tableDir(opts), schema, pushed.toSeq)
  }

  /** Bucket residues of `pushed` over the table at `dir`. `keyOnly` counts
    * only predicates on the bucket KEY (equality, `IN`, `<=>`): Some then
    * means the filters pin the key — the lookup shape. */
  def bucketsAt(dir: String, schema: StructType, pushed: Seq[Filter],
      keyOnly: Boolean = false): Option[Seq[Long]] = {
    // the layout's ACTUAL scheme and key column, from the directory
    // marker — never the reader's options (a stale nBuckets would prune
    // WRONG buckets). Legacy two-field markers carry no key: key-derived
    // pruning is skipped there, never guessed (direct `bucket`-column
    // residues below still apply — they come from directory values, not
    // the hash).
    val scheme = BucketScheme.readScheme(dir)
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

  /** The live files of `entries` (bucket → table-relative paths) a row
    * matching every filter of `pushed` can live in: the key's bucket
    * residues ([[bucketsAt]]), then the per-file `_file_stats` bounds
    * ([[fileCanMatch]]) — BEFORE any parquet footer is opened.
    * Conservative end to end: a file without stats is never pruned, and
    * every filter still applies to the rows read. Records the selection
    * in [[GraftTableReadStats]]. */
  def select(dir: String, entries: Map[Long, Seq[String]],
      schema: StructType, pushed: Seq[Filter]): Map[Long, Seq[String]] = {
    val live = entries.filter(_._2.nonEmpty)
    val byKey = bucketsAt(dir, schema, pushed) match {
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

  // batch staging reuses the epoch layout under a reserved id: the job's
  // queryId (a fresh UUID per write job) keys the directory, so
  // concurrent batch writers never share staging
  private val BatchEpoch = -1L

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    // a NAMED factory with only simple fields: DataWriterFactory ships to
    // executors, and an anonymous one would close over this (non-
    // serializable) write instance
    new GraftBatchStageWriterFactory(group, queryId, valueIdx, isBinary)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staging = GraftTableSink.stagingDir(group, queryId, BatchEpoch)
    val files = messages.collect {
      case GraftStagedFile(p, n) if n > 0 => p
    }
    if (files.nonEmpty) {
      val spark = SparkSession.active
      val raw = spark.read.textFile(files: _*).toDF("value")
      GraftTableSink.applyStaged(spark, raw, group, nBuckets, retainTxns,
        route)
    }
    if (staging.exists())
      org.apache.commons.io.FileUtils.deleteDirectory(staging)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val staging = GraftTableSink.stagingDir(group, queryId, BatchEpoch)
    if (staging.exists())
      org.apache.commons.io.FileUtils.deleteDirectory(staging)
  }
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
    val staging = GraftTableSink.stagingDir(group, queryId, epochId)
    if (CommitStore.active.get(marker).isEmpty) {
      // ONLY the files the coordinator accepted — never a directory list,
      // which could include a zombie attempt's duplicate rows
      val files = messages.collect {
        case GraftStagedFile(p, n) if n > 0 => p
      }
      if (files.nonEmpty) {
        val spark = SparkSession.active
        val raw = spark.read.textFile(files: _*).toDF("value")
        GraftTableSink.applyStaged(spark, raw, group, nBuckets, retainTxns,
          route)
      }
      // apply-then-commit: the marker (this sink's "offset commit")
      // publishes strictly AFTER the data transaction, so a crash between
      // the two replays the batch into idempotent merges — never skips it
      CommitStore.active.putIfAbsent(marker,
        s"""{"epoch":$epochId,"files":${files.length}}"""
          .getBytes(StandardCharsets.UTF_8))
    }
    if (staging.exists())
      org.apache.commons.io.FileUtils.deleteDirectory(staging)
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

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val staging = GraftTableSink.stagingDir(group, queryId, epochId)
    if (staging.exists())
      org.apache.commons.io.FileUtils.deleteDirectory(staging)
  }
}

class GraftBatchStageWriterFactory(group: String, queryId: String,
    valueIdx: Int, isBinary: Boolean) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new GraftStageWriter(
      GraftTableSink.stagingDir(group, queryId, -1L),
      partitionId, taskId, valueIdx, isBinary)
}

class GraftStageWriterFactory(group: String, queryId: String,
    valueIdx: Int, isBinary: Boolean) extends StreamingDataWriterFactory {
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
