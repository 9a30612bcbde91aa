package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.VectorFns
import graft.operators.MinHashLSH

/** The `spark.sql.extensions` plug-in entry point:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or, in code: a session builder's .withExtensions(new GraftExtensions)
  * }}}
  *
  * injects every graft native expression into each session built from
  * that config — cluster-wide registration with no driver code, the
  * idiomatic deployment route for custom Catalyst expressions (they
  * resolve like built-ins, inside whole-stage codegen). The minhash
  * signature functions are injected with the engine's default
  * deterministic coefficient family (63 hashes = dd3's 21 bands × 3
  * rows); sessions needing a different banding call
  * [[graft.functions.VectorFns.register]], which shadows the injected
  * builders with session-local ones. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    val (as, bs) = MinHashLSH.coeffs(63)
    VectorFns.builders(as, bs).foreach { case (name, builder) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(VectorFns.getClass.getName, name), builder))
    }
    // transparent MV rewrite against the warehouse named by
    // spark.graft.store.root (a no-op until the conf key is set) —
    // the one-conf-key cluster deployment of graft.plans.MvRewrite
    ext.injectOptimizerRule(graft.plans.MvRewrite.configured)
    // transparent Bloom/zone-map data skipping on the plain read path
    // (same conf key): Filter-over-store-scan prunes to stamp-kept dirs
    ext.injectOptimizerRule(graft.plans.AutoSkip.configured)
    ext.injectOptimizerRule(graft.plans.JvRewrite.configured)
    ext.injectOptimizerRule(graft.plans.FkJoinElim.configured)
    ext.injectOptimizerRule(graft.plans.DistinctElim.configured)
  }
}
