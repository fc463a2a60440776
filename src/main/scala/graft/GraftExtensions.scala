package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.local.LocalFs
import org.apache.spark.sql.SparkSessionExtensions

/** Session-creation-time injection of the engine's custom expressions —
  * the idiomatic way a Spark library ships Catalyst extensions:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  *   // or: --conf spark.sql.extensions=graft.GraftExtensions
  *
  * Makes `dot_product`, `cosine_sim`, `hamming64` available to ANY SQL text
  * (including the SQL-gateway passthrough, SURVEY §2.1 S5) and to
  * `expr()`/`call_function` callers, with full whole-stage codegen — these
  * are native Expressions, not UDFs.
  *
  * Also injects the planner strategies for the library's two custom
  * plans; every other operator composes from built-ins by design:
  *  - the native as-of join ([[graft.plans.AsOfJoinPlan]] →
  *    [[graft.plans.AsOfJoinExec]]);
  *  - the driver-local keyed replica lookup
  *    ([[graft.sources.GraftLookupStrategy]] → [[graft.sources.GraftLookupExec]]):
  *    `Project`/`Filter` over a key-pinned manifest-file relation of a
  *    few small files reads them on the driver, with no Spark job.
  *
  * And the analyzer rule [[graft.sources.GraftTableReadRule]], which
  * plans every `graft-table` / `GraftCatalog` batch read as the table's
  * manifest-file relation. The connector has no scan of its own, so its
  * reads REQUIRE this extension: without it a read fails naming it.
  *
  * And, once per JVM, the fork-free local file system for the `file:`
  * scheme ([[GraftExtensions.registerLocalFileSystem]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.registerLocalFileSystem()
    ext.injectFunction(functions.VectorExprs.dotProductDescriptor)
    ext.injectFunction(functions.VectorExprs.cosineSimDescriptor)
    ext.injectFunction(functions.VectorExprs.hamming64Descriptor)
    ext.injectFunction(functions.VectorExprs.shingleGenDescriptor)
    ext.injectFunction(functions.Bloom.mightContainDescriptor)
    ext.injectPlannerStrategy(_ => new plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => new sources.GraftLookupStrategy)
    ext.injectResolutionRule(_ => new sources.GraftTableReadRule)
    ext.injectOptimizerRule(s => new plans.BinnedRangeJoinRule(s))
    ext.injectOptimizerRule(s => new plans.HammingBandJoinRule(s))
  }
}

object GraftExtensions {
  /** Registers [[graft.localfs.GraftLocalFileSystem]] (`fs.file.impl`)
    * and [[graft.localfs.GraftLocalFs]] (`fs.AbstractFileSystem.file.impl`)
    * for every Hadoop `Configuration` of this JVM, by adding
    * `graft-site.xml` as a default resource. They are Hadoop's local file
    * systems without the `chmod`/`readlink` child processes that a host
    * without `libhadoop` starts per file created and per `FileContext`
    * rename (Spark's offset and commit logs, every parquet write).
    *
    *  - JVM-wide and once only: `Configuration.addDefaultResource` reaches
    *    every configuration that loads the defaults, the session's Hadoop
    *    conf and the ones Spark serializes to executors included.
    *  - Explicit settings win: a key set on a `Configuration` (so
    *    `spark.hadoop.fs.file.impl`) overrides any resource, and when the
    *    deployment's own resources (`core-site.xml`) move either key off
    *    Hadoop's default nothing is registered.
    *  - `SparkSession.builder().withExtensions(new GraftExtensions)` runs
    *    this before the SparkContext exists. The `spark.sql.extensions`
    *    route runs it only after, so Hadoop's JVM-wide FileSystem cache
    *    may already hold the stock `file:` instance for that session.
    */
  def registerLocalFileSystem(): Unit = registered

  private lazy val registered: Unit = {
    // Hadoop's own defaults: no `fs.file.impl` and `core-default.xml`'s LocalFs
    val conf = new Configuration()
    if (conf.getTrimmed("fs.file.impl", "").isEmpty &&
        conf.getTrimmed("fs.AbstractFileSystem.file.impl") == classOf[LocalFs].getName)
      Configuration.addDefaultResource("graft-site.xml")
  }
}
