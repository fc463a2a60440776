package graft.streaming

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** A manifest's live files as a Spark [[FileIndex]] — the pattern Delta's
  * `TahoeFileIndex` uses: the file list comes from the commit protocol's
  * log entry (`entries`: bucket → `bucket=<b>/<file>` paths under `dir`),
  * never from a directory listing, and each scan's [[listFiles]] prunes
  * it by the scan's own filters — the key's bucket residues and the
  * `_file_stats` bounds (`graft.sources.GraftTablePushdown.select`), plus
  * the `bucket` partition predicates, which it applies exactly (Spark
  * does not re-apply partition-only filters above a file scan). It backs
  * every replica read — the Scala reads (`TableGroup.readTableAt`,
  * `CdcStream.readSnapshotBucketed`, `DualSink`), and the `graft-table`
  * connector and `GraftCatalog` SQL through
  * `graft.sources.GraftTableReadRule` — so a keyed read through any of
  * them opens only the key's bucket files, and this is the one place
  * the pruning is decided. File statuses are fetched lazily, per
  * selected file. */
private[graft] class ManifestFileIndex(spark: SparkSession, val dir: String,
    val entries: Map[Long, Seq[String]], val dataSchema: StructType)
    extends FileIndex {

  override val rootPaths: Seq[Path] = Seq(new Path(dir))

  override val partitionSchema: StructType =
    StructType(Seq(StructField("bucket", LongType)))

  private lazy val fs =
    rootPaths.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val statuses =
    scala.collection.concurrent.TrieMap.empty[String, FileStatus]
  private def status(rel: String): FileStatus =
    statuses.getOrElseUpdate(rel, fs.getFileStatus(new Path(s"$dir/$rel")))

  /** The live files `dataFilters` can match, in buckets passing the
    * `bucket` predicates: bucket → `bucket=<b>/<file>` paths. `scheme` is
    * the directory's [[BucketScheme]] marker, read once by the caller. */
  def selectFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression],
      scheme: Option[BucketScheme.SchemeInfo]): Map[Long, Seq[String]] = {
    // the partition schema is one column, so every attribute a partition
    // filter references is `bucket`
    val keep = partitionFilters.reduceOption(And).map { p =>
      val pred = Predicate.create(p.transform {
        case _: AttributeReference => BoundReference(0, LongType, nullable = true)
      })
      pred.initialize(0)
      (b: Long) => pred.eval(InternalRow(b))
    }
    graft.sources.GraftTablePushdown.select(dir,
      keep.fold(entries)(k => entries.filter(e => k(e._1))), dataSchema,
      dataFilters.flatMap(DatasetBridge.translateFilter), scheme)
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    selectFiles(partitionFilters, dataFilters, BucketScheme.readScheme(dir))
      .toSeq.sortBy(_._1).map { case (b, rels) =>
        PartitionDirectory(InternalRow(b), rels.map(status).toArray)
      }

  override def inputFiles: Array[String] =
    entries.values.flatten.map(rel => s"$dir/$rel").toArray.sorted

  override def refresh(): Unit = ()

  override def sizeInBytes: Long =
    entries.values.flatten.map(status(_).getLen).sum
}
