package graft

import org.apache.spark.sql.SparkSessionExtensions

/** The library's Spark extension entry point — the ONE list of every
  * custom function and optimizer rule graft injects.
  *
  * Cluster deployment: `--conf spark.sql.extensions=graft.GraftExtensions`
  * (spark-submit / cluster-wide defaults) enables graft on every
  * session the application builds — the standard mechanism Spark
  * offers libraries, requiring a concrete `Function1[
  * SparkSessionExtensions, Unit]` with a zero-arg constructor.
  * Embedded: `SparkSession.builder().withExtensions(new
  * GraftExtensions)`. `GraftSession.local` (Verify/Bench/tests) routes
  * through this same class, so the deployed registration list can
  * never drift from the tested one. An extension cannot set static
  * confs, so a deployment sets `spark.sql.codegen.cache.maxEntries` to
  * `GraftSession.CodegenCacheEntries` itself (see its comment).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.FingerprintExpr.register(ext)
    graft.functions.DotProductExpr.register(ext)
    graft.functions.MinHashExpr.register(ext)
    graft.functions.SimHashExpr.register(ext)
    graft.functions.LshSigExpr.register(ext)
    graft.functions.BpeExpr.register(ext)
    graft.functions.BloomExpr.register(ext)
    graft.functions.CmsExpr.register(ext)
    graft.functions.CollectCappedAgg.register(ext)
    graft.functions.WindowHashExpr.register(ext)
    graft.functions.RemoveCoveredExpr.register(ext)
    graft.functions.ArgminCellExpr.register(ext)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
  }
}
