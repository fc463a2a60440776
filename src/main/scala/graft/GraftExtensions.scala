package graft

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
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
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
