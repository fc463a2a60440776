package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types.StructType

/** One column's per-file statistics in the `_file_stats` sidecar. Typed
  * so the read-side pruning ([[graft.sources.GraftTablePushdown
  * .fileCanMatch]]) only ever compares a pushed literal against bounds
  * of the SAME representation — the r15 ADVICE failure was exactly a
  * cross-representation compare (a DECIMAL literal's truncated
  * longValue vs unscaled INT64 stats). */
sealed trait ColStats
object ColStats {
  /** Exact min/max of a plain (logical-annotation-free) INT64/INT32
    * column. Matches only INTEGRAL pushed literals. */
  final case class Longs(min: Long, max: Long) extends ColStats
  /** Epoch-day min/max of a DATE-annotated INT32 column. Matches
    * `java.sql.Date` / `java.time.LocalDate` literals. */
  final case class Dates(min: Long, max: Long) extends ColStats
  /** ASCII, possibly TRUNCATED bounds of a UTF8 string column: `min` ≤
    * every value (prefix truncation only lowers it), `max` ≥ every value
    * (truncate-then-increment, the Iceberg upper-bound discipline).
    * Loose is fine — pruning only needs sound one-sided bounds. */
  final case class Strs(min: String, max: String) extends ColStats
}

/** The per-table pieces every bucketed CDC table shares, whoever commits
  * it: the publication tail of a merge ([[stageWrite]] / [[stageFiles]]:
  * schema-first `_schema` publish, attempt-private staging, moves into
  * `bucket=<b>` under unique names), the `_schema` and `_file_stats`
  * sidecars, the footer reads behind the merge guard and the lookup
  * budget, manifest-pruned reads ([[relation]]) and post-commit
  * bucket GC ([[gcBuckets]]).
  *
  * Publication itself is [[TableGroup]]'s: every table, the single
  * `cdc_stream` replica included, is a table of a group whose
  * `_txnlog` entry is the whole commit. Data files are immutable and
  * uniquely named, so a reader that resolved a log entry reads exactly
  * the files it names, and a crashed attempt leaves only orphans that no
  * entry references (reaped by the next commit's GC). Reference behavior
  * target: the reference's replica is INSERT/UPDATE/DELETE-in-place on
  * Postgres (postgres.py:33-59); a file-based replica needs this
  * discipline to offer readers the same always-consistent view. */
object BucketManifest {

  /** Per-FILE column min/max sidecar (`_file_stats`) — what Delta/Iceberg
    * record in their logs so a range predicate prunes the FILE LIST
    * before any footer is opened. At 100 TB the footer-read FAN is the
    * cost a time-range scan pays without this: every live file of the
    * version gets opened just to discover its row groups are skippable.
    *
    * Contract (all conservative — a tear or a lost update can only cost
    * pruning, never correctness):
    *  - one line per (file, column). Plain (un-annotated) INT32/INT64
    *    columns — the key/ts/lsn columns every merge carries — as
    *    `rel \t col \t min \t max`; DATE columns as
    *    `rel \t col \t D \t minDay \t maxDay` (epoch days); UTF8 string
    *    columns as `rel \t col \t S \t minHex \t maxHex` — ASCII-only,
    *    TRUNCATED bounds (the Iceberg discipline: min prefix-truncated
    *    DOWN, max truncated then last-char-incremented UP, so bounds may
    *    be loose but never tight in the wrong direction). Columns whose
    *    parquet logical annotation gives INT64 a non-long meaning
    *    (DECIMAL's unscaled representation, TIMESTAMP micros) are
    *    SKIPPED: a pushed literal for them is not a raw long, and
    *    comparing it against raw-long stats could wrongly prune;
    *    values come from the parquet FOOTER of the just-written file —
    *    exact, and metadata-only to produce;
    *  - a file with NO stats row is NEVER pruned (readers treat absence
    *    as unknown);
    *  - stats rows are keyed by the rel path, which carries the write's
    *    job UUID — immutable files mean a row can never misdescribe a
    *    different file;
    *  - min/max cover NON-NULL values only, so pruning applies only to
    *    predicates null rows cannot satisfy (comparisons, IN).
    * Goes through [[CommitStore]] like the log entries (object-store
    * adapters are not FS-backed). */
  val StatsName = "_file_stats"

  /** Live files per bucket of the `snapshot` table of the group at `dir`
    * ([[DualSink.SnapshotTable]], what `CdcStream.runBucketed` commits),
    * at its live transaction and read through the [[CommitStore]] seam,
    * as `bucket=<b>/<file>` relative paths. None before the first commit.
    * Kept for the CDC benchmark's trace, which calls it; it goes with the
    * next change to the benchmark (`TableGroup.groupManifest` is the
    * general read). */
  def read(dir: String): Option[Map[Long, Seq[String]]] =
    TableGroup.currentTxn(dir).flatMap(TableGroup.groupManifest(dir, _))
      .map(_.getOrElse(DualSink.SnapshotTable, Map.empty))

  /** `entries` (restricted to `buckets` when given) as a DataFrame of the
    * table's data columns plus `bucket` ([[relation]]). None when no file
    * is selected. */
  private[graft] def resolveEntries(spark: SparkSession, dir: String,
      entries: Map[Long, Seq[String]],
      buckets: Option[Seq[Long]]): Option[DataFrame] =
    relation(spark, dir, buckets.fold(entries)(bs =>
      entries.view.filterKeys(bs.toSet).toMap))
      .map(DatasetBridge.ofRows(spark, _))

  /** The one replica read leaf: `entries`' live files as a parquet
    * relation of the table's data columns plus `bucket`, over a
    * [[ManifestFileIndex]] of exactly those files — each scan of it
    * prunes the list by its own filters (key bucket residues,
    * `_file_stats` bounds). None when no file is live. */
  private[graft] def relation(spark: SparkSession, dir: String,
      entries: Map[Long, Seq[String]]): Option[LogicalRelation] = {
    val selected = entries.filter(_._2.nonEmpty)
    if (selected.isEmpty) None
    else {
      // the `_schema` sidecar (published schema-FIRST by stageWrite) is
      // the table's authoritative column set: after a mid-stream DDL
      // gain, live buckets MIX pre- and post-evolution files, and an
      // inferred schema (first footer wins) would drop or crash on the
      // new column depending on file order. Reading under the explicit
      // schema null-fills the old files' missing columns — exact
      // widening semantics, one tiny sidecar read, zero extra footer
      // opens (the mergeSchema alternative opens every selected
      // footer). A table written before the sidecar existed reads under
      // its first file's footer schema.
      val data = graft.Phase.timed("resolve.schema")(readTableSchema(dir))
        .getOrElse {
          val first = new org.apache.hadoop.fs.Path(
            s"$dir/${selected.values.flatten.min}")
          new ParquetFileFormat().inferSchema(spark, Map.empty, Seq(
            first.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .getFileStatus(first))).getOrElse(throw new IllegalStateException(
            s"cannot infer the schema of $first"))
        }
      val index = new ManifestFileIndex(spark, dir, selected,
        nullableForm(data).asInstanceOf[StructType])
      Some(LogicalRelation(HadoopFsRelation(
        index, index.partitionSchema, index.dataSchema, None,
        new ParquetFileFormat, Map.empty)(spark)))
    }
  }

  private def statsFile(dir: String) = new File(dir, StatsName)

  // ONE daemon thread owns every sidecar update: updates stay strictly
  // ordered (a file's record always precedes the GC drop a LATER commit
  // queues for it), the read-modify-swap needs no lock, and the
  // recording leaves the micro-batch's critical path — stats are
  // ADVISORY (a reader that arrives before a record lands simply skips
  // pruning those files; values are never wrong), so the commit protocol
  // never waits on them. Measured: synchronous recording cost ~70-180 ms
  // of every streaming micro-batch (the r12-r14 fixed-cost budget).
  private val statsExec = java.util.concurrent.Executors
    .newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-file-stats")
      t.setDaemon(true)
      t
    })

  private def statsAsync(what: String)(f: => Unit): Unit =
    statsExec.submit(new Runnable {
      override def run(): Unit =
        try f
        catch { case e: Throwable =>
          System.err.println(s"[graft] file-stats $what failed: $e")
        }
    })

  /** Drain the stats queue — every queued record/drop is durable when
    * this returns. For specs and demos that assert on pruning right
    * after a write; production readers never need it. */
  private[graft] def flushFileStats(): Unit =
    statsExec.submit(new Runnable { override def run(): Unit = () }).get()

  /** The directory's per-file stats: rel → (col → [[ColStats]]). Empty
    * when the sidecar doesn't exist. A malformed line is skipped (the
    * sidecar is advisory — unknown is always safe), so a sidecar written
    * by an OLDER build (4-field long-only lines) reads fine and a NEWER
    * format line under an older reader simply never prunes. */
  def readFileStats(dir: String): Map[String, Map[String, ColStats]] =
    CommitStore.active.get(statsFile(dir)).map { bytes =>
      new String(bytes, StandardCharsets.UTF_8)
        .split("\n").iterator.filter(_.nonEmpty)
        .flatMap { line =>
          // -1 limit: an EMPTY hex field is a real value (the empty
          // string is a valid min), and split's default drops trailing
          // empties
          line.split("\t", -1) match {
            case Array(rel, c, mn, mx) =>
              scala.util.Try(
                (rel, c, ColStats.Longs(mn.toLong, mx.toLong): ColStats))
                .toOption
            case Array(rel, c, "D", mn, mx) =>
              scala.util.Try(
                (rel, c, ColStats.Dates(mn.toLong, mx.toLong): ColStats))
                .toOption
            case Array(rel, c, "S", mnH, mxH) =>
              for (mn <- unhexAscii(mnH); mx <- unhexAscii(mxH))
                yield (rel, c, ColStats.Strs(mn, mx): ColStats)
            case _ => None
          }
        }.toSeq.groupBy(_._1).map { case (rel, rows) =>
          rel -> rows.map(r => r._2 -> r._3).toMap
        }
    }.getOrElse(Map.empty)

  private def renderStats(
      stats: Map[String, Map[String, ColStats]]): String =
    stats.toSeq.sortBy(_._1).flatMap { case (rel, cols) =>
      cols.toSeq.sortBy(_._1).map {
        case (c, ColStats.Longs(mn, mx)) => s"$rel\t$c\t$mn\t$mx"
        case (c, ColStats.Dates(mn, mx)) => s"$rel\t$c\tD\t$mn\t$mx"
        case (c, ColStats.Strs(mn, mx)) =>
          s"$rel\t$c\tS\t${hexAscii(mn)}\t${hexAscii(mx)}"
      }
    }.mkString("", "\n", "\n")

  // string bounds travel hex-encoded: the sidecar is a TSV and a value
  // may contain tabs/newlines; ASCII-only by construction (footerStats
  // drops non-ASCII bounds), so bytes == chars
  private def hexAscii(s: String): String =
    s.getBytes(StandardCharsets.US_ASCII).map(b => f"$b%02x").mkString
  private def unhexAscii(h: String): Option[String] =
    if (h.length % 2 != 0 ||
        !h.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')))
      None
    else Some(new String(
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray,
      StandardCharsets.US_ASCII))

  // ONE Configuration for every footer read: constructing a Hadoop
  // Configuration loads and parses the default resource XMLs — per-file
  // construction made recordFileStats a multi-second per-batch tax
  // (measured: streaming throughput halved)
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  /** Per-column min/max from one parquet file's FOOTER — exact and
    * metadata-only. Covered: plain (logical-annotation-free) INT64/INT32
    * as [[ColStats.Longs]], DATE-annotated INT32 as [[ColStats.Dates]],
    * UTF8-annotated BINARY with all-ASCII bounds as [[ColStats.Strs]]
    * (truncated to [[StatsTrunc]] — min down, max up). Everything else —
    * notably DECIMAL's unscaled INT64 and TIMESTAMP micros, where a
    * pushed literal is NOT a raw long — is skipped so [[fileCanMatch]]
    * never compares across representations. A column missing valid
    * statistics in ANY row group is dropped (unknown, never guessed);
    * min/max are over non-null values. */
  private[streaming] def footerStats(path: String): Map[String, ColStats] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), footerConf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val acc = scala.collection.mutable.Map.empty[String, ColStats]
      val bad = scala.collection.mutable.Set.empty[String]
      reader.getFooter.getBlocks.asScala.foreach { block =>
        block.getColumns.asScala.foreach { cc =>
          if (cc.getPath.size == 1) {
            val name = cc.getPath.toDotString
            val prim = cc.getPrimitiveType
            val ann = prim.getLogicalTypeAnnotation
            val st = cc.getStatistics
            val hasStats = st != null && !st.isEmpty && st.hasNonNullValue
            val chunkStats: Option[ColStats] =
              (prim.getPrimitiveTypeName, ann) match {
                case (PrimitiveTypeName.INT64, null) if hasStats =>
                  Some(ColStats.Longs(
                    st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
                    st.genericGetMax.asInstanceOf[java.lang.Long].longValue()))
                case (PrimitiveTypeName.INT32, null) if hasStats =>
                  Some(ColStats.Longs(
                    st.genericGetMin.asInstanceOf[java.lang.Integer].longValue(),
                    st.genericGetMax.asInstanceOf[java.lang.Integer].longValue()))
                case (PrimitiveTypeName.INT32,
                    _: LogicalTypeAnnotation.DateLogicalTypeAnnotation)
                    if hasStats =>
                  Some(ColStats.Dates(
                    st.genericGetMin.asInstanceOf[java.lang.Integer].longValue(),
                    st.genericGetMax.asInstanceOf[java.lang.Integer].longValue()))
                case (PrimitiveTypeName.BINARY,
                    _: LogicalTypeAnnotation.StringLogicalTypeAnnotation)
                    if hasStats =>
                  // ASCII-only bounds: they make Java String order,
                  // parquet's unsigned-byte order, and the engines'
                  // collations agree (and a non-ASCII LITERAL still
                  // compares consistently against an ASCII bound — its
                  // first non-ASCII unit sorts above every ASCII char in
                  // both orders). A non-ASCII bound → column dropped.
                  for {
                    mn <- asciiOf(st.genericGetMin
                      .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
                    mx <- asciiOf(st.genericGetMax
                      .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
                  } yield ColStats.Strs(mn, mx)
                case _ => None
              }
            chunkStats match {
              case Some(s) =>
                acc(name) = acc.get(name) match {
                  case Some(prev) => mergeStats(prev, s).getOrElse {
                    bad += name; prev
                  }
                  case None => s
                }
              case None => bad += name
            }
          }
        }
      }
      // truncate string bounds LAST, after the cross-row-group merge —
      // min truncates down (still ≤ every value), max truncates-and-
      // increments up (still ≥; un-incrementable ⇒ drop the column)
      (acc -- bad).flatMap {
        case (c, ColStats.Strs(mn, mx)) =>
          truncUpper(mx).map(u => c -> ColStats.Strs(truncLower(mn), u))
        case kv => Some(kv)
      }.toMap
    } finally reader.close()
  }

  private def mergeStats(a: ColStats, b: ColStats): Option[ColStats] =
    (a, b) match {
      case (ColStats.Longs(a1, a2), ColStats.Longs(b1, b2)) =>
        Some(ColStats.Longs(math.min(a1, b1), math.max(a2, b2)))
      case (ColStats.Dates(a1, a2), ColStats.Dates(b1, b2)) =>
        Some(ColStats.Dates(math.min(a1, b1), math.max(a2, b2)))
      case (ColStats.Strs(a1, a2), ColStats.Strs(b1, b2)) =>
        Some(ColStats.Strs(if (a1.compareTo(b1) <= 0) a1 else b1,
          if (a2.compareTo(b2) >= 0) a2 else b2))
      case _ => None // a column cannot change type within one file
    }

  /** Max stored length of a string bound — the Iceberg-style truncation
    * width. Bounds stay a few dozen bytes per (file, column) no matter
    * how long the values are. */
  private val StatsTrunc = 64

  private def asciiOf(b: Array[Byte]): Option[String] =
    if (b.forall(_ >= 0)) Some(new String(b, StandardCharsets.US_ASCII))
    else None

  private def truncLower(s: String): String =
    if (s.length <= StatsTrunc) s else s.substring(0, StatsTrunc)

  /** Upper-bound truncation: cut to [[StatsTrunc]], then increment the
    * rightmost char that stays ASCII after +1 and DROP everything after
    * it — the result is strictly greater than every string sharing the
    * kept prefix. None when no char can be incremented (all 0x7f). */
  private[streaming] def truncUpper(s: String): Option[String] =
    if (s.length <= StatsTrunc) Some(s)
    else {
      val t = s.substring(0, StatsTrunc).toCharArray
      var i = t.length - 1
      while (i >= 0 && t(i) >= 0x7f.toChar) i -= 1
      if (i < 0) None
      else Some(new String(t, 0, i) + (t(i) + 1).toChar)
    }

  /** Record footer stats for files THIS attempt just moved into the
    * directory (single-writer read-modify-swap; under racing committers
    * a lost update only forfeits pruning for the other attempt's files). */
  private[streaming] def recordFileStats(dir: String,
      moved: Map[Long, Seq[String]]): Unit = {
    // footer reads in PARALLEL: they are independent local metadata reads
    // of this attempt's own files, and the per-batch budget is the
    // micro-batch fixed cost the r12-r14 verdicts gate — 64 sequential
    // opens were a measurable slice of it
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    // a deleted table dir (scratch cleanup racing the async queue) must
    // not be resurrected by a sidecar write — advisory data, skip
    if (!new File(dir).isDirectory) return
    val rels = moved.values.flatten.toSeq
    val fresh = Await.result(
      Future.traverse(rels) { rel =>
        Future {
          val s = scala.util.Try(footerStats(s"$dir/$rel"))
            .getOrElse(Map.empty[String, ColStats])
          if (s.nonEmpty) Some(rel -> s) else None
        }
      }, Duration.Inf).flatten.toMap
    if (fresh.nonEmpty)
      CommitStore.active.atomicSwap(statsFile(dir),
        renderStats(readFileStats(dir) ++ fresh)
          .getBytes(StandardCharsets.UTF_8))
  }

  /** Test seam: publish a stats map through the same render/swap the
    * recorder uses (round-trip pinning without staged files). */
  private[streaming] def writeStatsForTest(dir: String,
      stats: Map[String, Map[String, ColStats]]): Unit =
    CommitStore.active.atomicSwap(statsFile(dir),
      renderStats(stats).getBytes(StandardCharsets.UTF_8))

  /** Drop stats rows for deleted files (GC hygiene — correctness never
    * depends on it: a stale row's rel can never be reused). */
  private[streaming] def dropFileStats(dir: String,
      removed: Iterable[String]): Unit = {
    if (!new File(dir).isDirectory) return // see recordFileStats
    val dead = removed.toSet
    if (dead.nonEmpty) {
      val cur = readFileStats(dir)
      val kept = cur.view.filterKeys(!dead(_)).toMap
      if (kept.size != cur.size)
        CommitStore.active.atomicSwap(statsFile(dir),
          renderStats(kept).getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Committer version for staged writes whose atomicity lives in the
    * staging protocol, not the committer. v2 skips the job-commit rename
    * storm (at 64+ buckets a measurable slice of the per-batch fixed
    * cost, `tools/JobProfile`) — but v2's task commit renames part files
    * DIRECTLY into the output, so a task attempt that dies mid-commit
    * (task retry, speculation) leaves partial files that the retry's
    * files join, and the stage-dir listing would claim BOTH → duplicate
    * rows in the manifest. v1's job-level commit publishes only
    * committed attempts. So: v2 only when no task can ever be retried —
    * local mode without the `local[n, maxFailures]` retry form and
    * speculation off — v1 everywhere else (the cluster path). */
  private[streaming] def stagedCommitterVersion(spark: SparkSession): String = {
    val sc = spark.sparkContext
    val speculation = sc.getConf.getBoolean("spark.speculation", false)
    // `local` / `local[n]` / `local[*]` run tasks with maxFailures = 1;
    // `local[n, f]` (and every cluster master) can retry a failed task
    val master = sc.master
    val localNoRetry =
      master == "local" || master.matches("""local\[[^,\]]+\]""")
    if (!speculation && localNoRetry) "2" else "1"
  }

  /** Authoritative DATA schema sidecar (`_schema`, DDL text) — the
    * minimal slice of what Delta keeps in its log: which columns the
    * table holds NOW, so readers over mixed pre-/post-evolution files
    * resolve one widened schema instead of inferring from an arbitrary
    * first footer. Published by [[stageWrite]] BEFORE any file moves
    * (schema-first ordering: no reader can ever select a data file
    * wider than the published schema; a crash after the publish leaves
    * a schema wider than the data — harmless null-fill). */
  val SchemaName = "_schema"

  private def schemaFile(dir: String) = new File(dir, SchemaName)

  /** The table's published data schema; None before the first
    * post-evolution-support write (readers then infer, the old
    * behavior). */
  def readTableSchema(dir: String)
      : Option[org.apache.spark.sql.types.StructType] =
    CommitStore.active.get(schemaFile(dir)).map(b =>
      org.apache.spark.sql.types.StructType.fromDDL(
        new String(b, StandardCharsets.UTF_8)))

  /** Publish `schema` (the staged frame's data columns) as the table's
    * authoritative schema. WIDENING-ONLY: every already-published column
    * must survive with its type — a dropped column or a type change is
    * not evolution and fails the batch loudly (null-filling a renamed
    * column would silently blank history). Equal schemas skip the swap
    * (steady state writes nothing). */
  /** Canonical all-nullable, metadata-free form — the shape DDL text
    * can represent (DDL encodes neither nullability nor metadata, so
    * anything else churns the sidecar and false-fails the type check:
    * a lit() column is non-nullable in one batch's plan and nullable
    * after the fromDDL round trip). */
  private def nullableForm(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        StructField(f.name, nullableForm(f.dataType), nullable = true)))
      case a: ArrayType =>
        ArrayType(nullableForm(a.elementType), containsNull = true)
      case m: MapType => MapType(nullableForm(m.keyType),
        nullableForm(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  private def publishSchema(dir: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val data = nullableForm(org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_.name == "bucket")))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    readTableSchema(dir) match {
      case Some(old) if old == data => ()
      case cur =>
        cur.foreach(_.fields.foreach { f =>
          val nf = data.fields.find(_.name == f.name)
          require(nf.nonEmpty,
            s"schema evolution in $dir may only WIDEN: column " +
              s"'${f.name}' is missing from the staged write " +
              s"(${data.map(_.name).mkString(", ")})")
          require(nf.get.dataType == nullableForm(f.dataType),
            s"schema evolution in $dir may not change types: column " +
              s"'${f.name}' was ${f.dataType.sql}, staged as " +
              s"${nf.get.dataType.sql}")
        })
        CommitStore.active.atomicSwap(schemaFile(dir),
          data.toDDL.getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Write `df` (carrying its `bucket` partition column) through a
    * per-attempt staging directory, then MOVE each part file into its
    * final `bucket=<b>` directory — returning exactly the files THIS
    * attempt produced, per bucket. This makes file OWNERSHIP explicit,
    * which listing-diffs cannot: with concurrent writers, a post-write
    * listing of a shared bucket can contain another attempt's in-flight
    * files, and a manifest built from the diff would claim them (Spark's
    * DataFrame write API does not report the files it wrote, hence the
    * staging hop; part names carry the write's job UUID, so moves never
    * collide). The table-format rule this restores: a commit references
    * only files its own writer produced. The move and the rest are
    * [[stageFiles]]'s. */
  def stageWrite(df: DataFrame, dir: String): Map[Long, Seq[String]] =
    stageFiles(dir, df.schema) { stage =>
      df.write.mode("overwrite").partitionBy("bucket")
        // the staging protocol never relies on the output committer's
        // atomicity (files are MOVED out of the attempt-private stage dir
        // and ownership is explicit) — but the OWNERSHIP claim is a
        // listing, which v2 can poison with a dead attempt's partials;
        // see stagedCommitterVersion for when v2 is safe
        .option("mapreduce.fileoutputcommitter.algorithm.version",
          stagedCommitterVersion(df.sparkSession))
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .parquet(stage.toString)
    }

  /** The publication tail every staged write shares, whoever writes the
    * files: publish `schema` (data columns + `bucket`) schema-first, run
    * `write` into a fresh attempt-private stage directory (it leaves
    * parquet files under `bucket=<b>` there — a Spark job in
    * [[stageWrite]], the driver-local twin in [[BucketedMerge]]), move
    * each part file into its final `bucket=<b>` directory with a
    * publish-time mtime, and queue the `_file_stats` record. Returns
    * exactly the files THIS attempt produced, per bucket. */
  private[streaming] def stageFiles(dir: String,
      schema: org.apache.spark.sql.types.StructType)(
      write: File => Unit): Map[Long, Seq[String]] = {
    // schema-first (see SchemaName): publish before any data file is
    // visible, so the reader's explicit schema always covers the files
    graft.Phase.timed("stage.schema")(publishSchema(dir, schema))
    val stage = new File(dir, s"stage-${java.util.UUID.randomUUID()}")
    graft.Phase.timed("stage.write")(write(stage))
    val moved = Option(stage.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
      .flatMap { bd =>
        val b = bd.getName.stripPrefix("bucket=").toLong
        bd.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .map { f =>
            val tgt = new File(dir, s"bucket=$b/${f.getName}")
            tgt.getParentFile.mkdirs()
            Files.move(f.toPath, tgt.toPath,
              StandardCopyOption.ATOMIC_MOVE)
            // stamp PUBLISH time: rename preserves the stage-write mtime,
            // so gcBuckets' grace window would otherwise start ticking
            // when the part was written — a long stage write could age an
            // uncommitted file past the grace and get it vacuumed before
            // its commit CAS
            tgt.setLastModified(System.currentTimeMillis())
            b -> s"bucket=$b/${f.getName}"
          }
      }
    org.apache.commons.io.FileUtils.deleteDirectory(stage)
    val owned = moved.groupBy(_._1).map { case (b, fs) => b -> fs.map(_._2).sorted }
    // file-level min/max sidecar for the just-written files (footer
    // reads of THIS attempt's own files — metadata-only, O(touched
    // buckets) per batch); readers use it to prune the file LIST on
    // range predicates before any footer is opened. Queued OFF the
    // batch's critical path (see statsExec): a file deleted by a later
    // commit's GC before its record task runs just yields no stats row —
    // and that GC's queued drop clears any partial
    statsAsync("record")(
      graft.Phase.timed("stage.stats")(recordFileStats(dir, owned)))
    owned
  }

  // data file names carry a write UUID and files are never rewritten, so
  // a path's row count never changes: the merge guard and the lookup
  // budget read each footer once
  private val footerRows = new java.util.LinkedHashMap[String, java.lang.Long](
      256, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, java.lang.Long]): Boolean = size() > 4096
  }

  /** Row count of one parquet file, from its footer (metadata only). */
  private[graft] def footerRowCount(path: String): Long =
    footerRows.synchronized(Option(footerRows.get(path))).map(_.longValue)
      .getOrElse {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(path), footerConf))
        val n = try reader.getRecordCount finally reader.close()
        footerRows.synchronized(footerRows.put(path, n))
        n
      }

  private def listParquet(dir: String, bucket: Long): Set[String] = {
    val d = new File(dir, s"bucket=$bucket")
    Option(d.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => s"bucket=$bucket/${f.getName}").toSet
  }

  /** GC after a successful publish: in each touched bucket, everything not
    * in the live entry set is dead (superseded) or orphaned (crashed or
    * out-raced attempt). `graceMs` is the in-flight-writer guard: an
    * unreferenced file younger than the grace window may belong to a
    * CONCURRENT attempt that has not committed yet (its files are moved
    * into the bucket before its commit CAS), so it is skipped — the
    * VACUUM-retention discipline; 0 keeps the tight single-writer
    * behavior. */
  private[streaming] def gcBuckets(dir: String, changed: Seq[Long],
      live: Map[Long, Seq[String]], graceMs: Long = 0L): Unit = {
    val now = System.currentTimeMillis()
    val reaped = scala.collection.mutable.ArrayBuffer.empty[String]
    changed.foreach { b =>
      val keep = live.getOrElse(b, Seq.empty).toSet
      val d = new File(dir, s"bucket=$b")
      (listParquet(dir, b) -- keep).foreach { rel =>
        val f = new File(dir, rel)
        // >= so the graceMs=0 single-writer default deletes unconditionally:
        // with strict >, a superseded file whose mtime lands in the same
        // clock tick as the GC (coarse-mtime filesystems, fast batches)
        // would flakily survive and break the disk==live assertions
        if (now - f.lastModified() >= graceMs) {
          f.delete()
          new File(f.getParentFile, "." + f.getName + ".crc").delete()
          reaped += rel
        }
      }
      // bucket fully emptied (every key deleted) and nothing in-flight
      // left behind: drop the directory and local-FS checksum companions.
      // The drop honors the same grace as the per-file path: a directory
      // (or leftover file) younger than the window may be a concurrent
      // stageWrite sitting between mkdirs() and its Files.move — deleting
      // it would fail that writer's move (and thus its whole attempt)
      // spuriously.
      if (keep.isEmpty && listParquet(dir, b).isEmpty && d.exists() &&
          now - d.lastModified() >= graceMs &&
          Option(d.listFiles()).toSeq.flatten
            .forall(f => now - f.lastModified() >= graceMs)) {
        Option(d.listFiles()).foreach(_.foreach(_.delete()))
        d.delete()
      }
    }
    if (reaped.nonEmpty) {
      val dead = reaped.toList
      statsAsync("drop")(dropFileStats(dir, dead))
    }
  }
}
