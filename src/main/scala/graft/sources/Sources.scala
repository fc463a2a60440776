package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}

/** Format-parameterized source/sink surface — the engine's answer to the
  * reference's connection gateway (postgres.py:13-62): where the reference
  * hard-wires DuckDB-ATTACH-Postgres, sources here are declarative format +
  * options, so parquet/json/csv/jdbc/kafka are one code path.
  *
  * JDBC (the production replica target, S4) is code-complete but not
  * exercisable offline; `jdbcOptions` documents the partitioned-read
  * contract that matters at scale: partitionColumn/num bounds turn a single
  * remote cursor into parallel range scans.
  */
object Sources {

  def read(spark: SparkSession, format: String, path: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format(format).options(options).load(path)

  /** Partitioned-parallel JDBC read options (prod variant of S4). */
  def jdbcOptions(
      url: String, table: String, user: String, password: String,
      partitionColumn: String, lowerBound: Long, upperBound: Long,
      numPartitions: Int): Map[String, String] = Map(
    "url" -> url, "dbtable" -> table, "user" -> user, "password" -> password,
    "partitionColumn" -> partitionColumn,
    "lowerBound" -> lowerBound.toString, "upperBound" -> upperBound.toString,
    "numPartitions" -> numPartitions.toString)

  /** Write a snapshot partitioned by a key expression — the layout that
    * makes downstream per-key reads partition-pruned at scale. The
    * repartition clusters rows by the partition value first, so each
    * directory gets ~1 file instead of one per upstream task (the
    * tasks×values tiny-file fan-out every naive partitionBy write has). */
  def writePartitioned(df: DataFrame, path: String, byCol: String,
      format: String = "parquet"): Unit =
    df.repartition(org.apache.spark.sql.functions.col(byCol))
      .write.format(format).mode("overwrite").partitionBy(byCol).save(path)

  /** Sort-clustered parquet layout: range-repartition on `sortCol`, sort
    * within partitions, and cap the parquet row-group size. Each row group's
    * min/max footer stats then cover a NARROW, non-overlapping range of
    * `sortCol`, so a pushed range predicate skips whole row groups at the
    * reader — the single-dimension version of Z-ordering, and the layout
    * lever that matters most at 100 TB: a time-range query over a
    * time-clustered fact table reads the few row groups it needs instead of
    * every page of every file. (An unsorted write has the same stats
    * machinery but every group's [min,max] spans the whole domain, so
    * nothing skips — measured in LayoutSpec and SCALE.md.)
    *
    * `rowGroupBytes` is deliberately small in tests to force many groups
    * from small data; production leaves the 128 MB default and gets the
    * same skipping from file-level + group-level stats.
    *
    * Key-type caveat (measured, LayoutSpec): on this Spark, a
    * TIMESTAMP_NTZ clustering key shows up in `PushedFilters` but is never
    * evaluated against row-group stats — zero skipping. Cast time keys to
    * DATE (or bigint epoch) before clustering; day granularity is the
    * right clustering grain for a fact table regardless.
    */
  def writeClustered(df: DataFrame, path: String, sortCol: String,
      rowGroupBytes: Long = 128L << 20, nFiles: Int = 0): Unit = {
    import org.apache.spark.sql.functions.col
    val parts = if (nFiles > 0) df.repartitionByRange(nFiles, col(sortCol))
      else df.repartitionByRange(col(sortCol))
    parts.sortWithinPartitions(col(sortCol))
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes.toString)
      .parquet(path)
  }

  /** Compact a small-file parquet directory into ~`targetBytes` files —
    * the maintenance pass every streaming sink needs: per-micro-batch
    * appends accumulate files whose count (not size) comes to dominate
    * listing, scheduling, and footer-reading time at scale. Sizing reads
    * the actual on-disk footprint, not a row-count guess; the rewrite is
    * staged to a temp dir and swapped in via the checked aside-rename
    * protocol (write tmp, rename live aside, rename tmp in, drop aside;
    * the next call restores a crashed swap's pre-image) so a crash
    * mid-compact leaves either the old layout or the new one, never a
    * mix (same staging rule as the CDC snapshot sink: never overwrite
    * files a concurrent reader may hold a listing of — run compaction
    * when no query is mid-flight over the dir, or on a copy-on-write
    * table format).
    * Returns (filesBefore, filesAfter). */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20, sortCol: Option[String] = None,
      rowGroupBytes: Long = 128L << 20): (Int, Int) = {
    import org.apache.spark.sql.functions.col
    // normalize: a trailing slash would resolve the tmp/aside paths
    // INSIDE the table dir, and the swap below would then delete the
    // freshly staged rewrite along with the table
    val base = dir.stripSuffix("/")
    val path = new org.apache.hadoop.fs.Path(base)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(base + "._compact_tmp")
    val aside = new org.apache.hadoop.fs.Path(base + "._compact_old")
    // crash recovery FIRST: a previous compact died between `dst ->
    // aside` and `tmp -> dst` — restore the pre-image before listing
    if (!fs.exists(path) && fs.exists(aside) && !fs.rename(aside, path))
      throw new IllegalStateException(s"could not restore $aside")
    if (fs.exists(path) && fs.exists(aside)) fs.delete(aside, true)
    fs.delete(tmp, true) // stale tmp from a crash before the swap
    val dataFiles = fs.listStatus(path)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val totalBytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    // A round-robin repartition() on a sort-clustered table would quietly
    // DESTROY the layout (every output file's stats span the whole key
    // domain → zero row-group skipping afterwards — the classic silent
    // compaction regression, measured in LayoutSpec). Declare the
    // clustering key and the rewrite re-clusters while it compacts.
    val shaped = sortCol match {
      case Some(c) => spark.read.parquet(dir)
        .repartitionByRange(nOut, col(c)).sortWithinPartitions(col(c))
      case None => spark.read.parquet(dir).repartition(nOut)
    }
    shaped.write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes.toString)
      .parquet(tmp.toString)
    // checked aside-swap: delete-then-rename had a window where NEITHER
    // layout existed, and Hadoop FS signals failure by returning false,
    // not throwing
    if (!fs.rename(path, aside))
      throw new IllegalStateException(s"could not set aside $base")
    if (!fs.rename(tmp, path)) {
      fs.rename(aside, path) // roll back to the pre-image
      throw new IllegalStateException(s"swap failed for $base")
    }
    fs.delete(aside, true)
    val after = fs.listStatus(path)
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    (dataFiles.length, after)
  }

  /** Z-ordered layout over two dimensions: cluster by the Morton
    * interleave of both bucketized keys, so range predicates on EITHER
    * dimension skip row groups (a single-dim sort serves only its own
    * key — measured in LayoutSpec). The Z key is derivation-only: it
    * orders the write and is dropped; pruning comes from the footer
    * stats of the original columns, which the Z-clustering makes
    * piecewise-narrow. Domains are passed explicitly (at 100 TB you know
    * them, or read them from a stats pass) to keep the bucket mapping
    * stable across incremental writes.
    */
  def writeZOrdered(df: DataFrame, path: String,
      colA: String, aMin: Long, aMax: Long,
      colB: String, bMin: Long, bMax: Long,
      rowGroupBytes: Long = 128L << 20, nFiles: Int = 0): Unit = {
    import org.apache.spark.sql.functions.col
    val z = graft.functions.ZOrder.zkey(
      col(colA), aMin, aMax, col(colB), bMin, bMax)
    val keyed = df.withColumn("__zkey", z)
    val parts = if (nFiles > 0) keyed.repartitionByRange(nFiles, col("__zkey"))
      else keyed.repartitionByRange(col("__zkey"))
    parts.sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes.toString)
      .parquet(path)
  }
}
