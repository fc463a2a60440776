package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference,
  AttributeSet, BindReferences, Expression, InterpretedUnsafeProjection,
  IsNotNull, NamedExpression, Predicate, SubqueryExpression}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, V1ScanWrapper}
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StructType}

import graft.streaming.{BucketManifest, BucketScheme, DriverParquet, ManifestFileIndex}

/** Plans a keyed replica lookup as ONE driver-local leaf,
  * [[GraftLookupExec]]: `Project`/`Filter` over a key-pruned replica scan
  * whose selected files hold at most [[GraftLookupStrategy.LookupRowMax]]
  * rows (their parquet footers' counts). Injected beside the as-of join's
  * strategy by `GraftExtensions` — the SNIPPETS [1] `SqlStrategy` route.
  *
  * Two leaf shapes over the same table-group log, both pruned by
  * [[GraftTablePushdown.select]]:
  *  - the connector's [[GraftTableScan]] (catalog SQL and
  *    `format("graft-table")`), from its pinned version's log entry;
  *  - a parquet relation over the live entry's files
  *    ([[ManifestFileIndex]]): `CdcStream.readSnapshotBucketed`,
  *    `DualSink.readSnapshot` / `readHistory`, `Scd2Stream.asOf`.
  *
  * It fires only when the filters pin the bucket key (equality, `IN`,
  * `<=>` residues); anything else — merge slice reads, range and analytic
  * scans, non-deterministic or subquery expressions, streaming relations,
  * metadata columns — plans exactly as without it. A Spark job costs
  * 70-100 ms of planning and scheduling at `local[4]` to return a row the
  * driver reads from one file in a few ms. */
class GraftLookupStrategy extends SparkStrategy {
  import GraftLookupStrategy._

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(projects, filters, leaf) if rowMax > 0 &&
        filters.nonEmpty &&
        (projects ++ filters).forall(e => e.deterministic &&
          !SubqueryExpression.hasSubquery(e) &&
          e.references.subsetOf(leaf.outputSet)) =>
      selection(filters, leaf).filter { case (_, _, files, _) =>
        // stop opening footers once the budget is exceeded
        files.values.flatten.iterator
          .scanLeft(0L)(_ + BucketManifest.footerRowCount(_))
          .forall(_ <= rowMax)
      }.map { case (dir, data, files, pushed) =>
        GraftLookupExec(projects, filters, leaf.output, data,
          files.toSeq.sortBy(_._1).flatMap { case (b, fs) => fs.map(b -> _) },
          pushed, dir)
      }.toSeq
    case _ => Nil
  }

  /** (table dir, data schema, bucket → absolute paths, pushed filters) of
    * a key-pinned read of a replica leaf; None for any other shape. */
  private def selection(filters: Seq[Expression], leaf: LogicalPlan)
      : Option[(String, StructType, Map[Long, Seq[String]], Seq[Filter])] =
    leaf match {
      case l: LogicalRelation if !l.isStreaming => l.relation match {
        case HadoopFsRelation(idx: ManifestFileIndex, _, _, _, _, _) =>
          val (part, data) = filters.partition(f =>
            f.references.nonEmpty && f.references.forall(_.name == "bucket"))
          val pushed = data.flatMap(DatasetBridge.translateFilter)
          val scheme = BucketScheme.readScheme(idx.dir)
          if (GraftTablePushdown.bucketsAt(scheme, idx.dataSchema, pushed,
              keyOnly = true).isEmpty) None
          else Some((idx.dir, idx.dataSchema, idx.selectFiles(part, data, scheme)
            .map { case (b, fs) => b -> fs.map(f => s"${idx.dir}/$f") },
            pushed))
        case _ => None
      }
      case r: DataSourceV2ScanRelation => r.scan match {
        case V1ScanWrapper(s: GraftTableScan, pushed, _) =>
          s.lookupFiles.map { case (dir, data, files) => (dir, data, files, pushed) }
        case _ => None
      }
      case _ => None
    }
}

object GraftLookupStrategy {
  /** Largest selection, in footer rows, a lookup reads on the driver: the
    * same driver-memory bound as `BucketedMerge.LocalMergeMax` (rows are
    * decoded, filtered and projected one file at a time, and only the
    * matches are kept). `tools/WriteMicro` measures the crossover. */
  private[graft] val LookupRowMax = 16384L

  /** Test seam (the `BucketedMerge.localMax` pattern): the row budget
    * the strategy applies; 0 turns it off, so every keyed read plans as
    * the distributed scan. */
  @volatile private[graft] var rowMax: Long = LookupRowMax
}

/** A keyed lookup read on the driver: the planned files of one replica
  * version (the scan's pinned version and file list), read at EXECUTION
  * with Spark's own parquet reader ([[DriverParquet]]) under the table's
  * `_schema` with each file's `bucket` partition value, then the whole
  * filter (is-not-null conjuncts first, as `FilterExec` orders them) and
  * projection of the matched subtree, through the same Catalyst
  * expressions, so ANSI errors surface as on the distributed plan. The
  * output attributes are the subtree's own. `executeCollect` runs no
  * Spark job; a parent that needs an RDD (a sort, a join) gets the same
  * rows as one partition. */
case class GraftLookupExec(projects: Seq[NamedExpression],
    filters: Seq[Expression], leaf: Seq[Attribute], dataSchema: StructType,
    files: Seq[(Long, String)], pushed: Seq[Filter], table: String)
    extends LeafExecNode {

  override def output: Seq[Attribute] = projects.map(_.toAttribute)
  override def producedAttributes: AttributeSet =
    AttributeSet(leaf) ++ outputSet
  override def outputPartitioning: Partitioning = SinglePartition

  override def simpleString(maxFields: Int): String =
    s"GraftLookup $table ${output.mkString("[", ", ", "]")} " +
      s"PushedFilters: ${pushed.mkString("[", ", ", "]")}, " +
      s"Files: ${files.size}"

  override def verboseStringWithOperatorId(): String =
    s"""|$formattedNodeName
        |Output [${output.size}]: ${output.mkString("[", ", ", "]")}
        |Table: $table
        |Condition: ${filters.mkString(" AND ")}
        |PushedFilters: ${pushed.mkString("[", ", ", "]")}
        |Files: ${files.size}
        |""".stripMargin

  private def rows(): Array[InternalRow] = {
    // only the columns the filter and projection reference are decoded
    val needed = AttributeSet(projects ++ filters)
    val data = leaf.filter(a => a.name != "bucket" && needed.contains(a))
    val input = data :+ leaf.find(_.name == "bucket")
      .getOrElse(AttributeReference("bucket", LongType)())
    val read = DriverParquet.reader(session, dataSchema,
      DataTypeUtils.fromAttributes(data),
      DataTypeUtils.fromAttributes(input.takeRight(1)))
    // interpreted: the key literal differs per lookup, so generated code
    // would compile anew every time (~10 ms) for a handful of rows
    val (notNull, other) = filters.partition(_.isInstanceOf[IsNotNull])
    val pred = (notNull ++ other).reduceOption(And).map(c =>
      Predicate.createInterpreted(BindReferences.bindReference(c, input)))
    pred.foreach(_.initialize(0))
    val proj = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(projects, input))
    proj.initialize(0)
    files.flatMap { case (b, path) =>
      read(path, InternalRow(b)).filter(r => pred.forall(_.eval(r)))
        .map(proj(_).copy()).toVector
    }.toArray
  }

  override def executeCollect(): Array[InternalRow] = rows()
  override def executeTake(n: Int): Array[InternalRow] = rows().take(n)
  override def executeTail(n: Int): Array[InternalRow] = rows().takeRight(n)
  override def executeToIterator(): Iterator[InternalRow] = rows().iterator

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(rows().toIndexedSeq, 1)
}
