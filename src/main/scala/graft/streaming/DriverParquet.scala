package graft.streaming

import java.io.File
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Spark's own parquet reader, on the driver — the one read path of the
  * driver-local merge twin ([[LocalMerge]]) and the driver-local lookup
  * (`graft.sources.GraftLookupExec`). Rows come back exactly as the
  * distributed scan decodes them: `required` columns of a file written
  * under `data` (missing columns null-filled, as under the `_schema`
  * sidecar), then the file's partition values.
  *
  * Building the reader broadcasts a Hadoop conf and costs ~10 ms at
  * `local[4]`, several times a one-file read, so the built function is
  * cached per (schemas, session SQL conf, SparkContext): a conf change
  * rebuilds it. The function is safe to call from several threads, as
  * executor tasks share it. */
private[graft] object DriverParquet {

  private type Build = PartitionedFile => Iterator[InternalRow]

  private val built = new java.util.LinkedHashMap[AnyRef, Build](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[AnyRef, Build]): Boolean = size() > 16
  }

  /** Reads one file (absolute path, its partition values). The rows are
    * REUSED by the reader — copy what you keep — and the file closes when
    * the iterator is drained. */
  def reader(spark: SparkSession, data: StructType, required: StructType,
      partition: StructType = new StructType()): (String, InternalRow) => Iterator[InternalRow] = {
    val key = (data, required, partition,
      spark.sessionState.conf.getAllConfs, spark.sparkContext)
    val read = built.synchronized(Option(built.get(key))).getOrElse {
      val r = new ParquetFileFormat().buildReaderWithPartitionValues(spark,
        data, partition, required, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())
      built.synchronized(built.put(key, r))
      r
    }
    (path, values) => {
      val f = new File(path)
      read(PartitionedFile(values, SparkPath.fromPathString(path), 0L,
        f.length, Array.empty, f.lastModified, f.length))
    }
  }
}
