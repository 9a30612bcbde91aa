package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.store.TableStore

/** What the store-backed optimizer rules ([[MvRewrite]], [[AutoSkip]],
  * [[JvRewrite]], [[FkJoinElim]], [[DistinctElim]]) share. Each rule's
  * companion extends this with the rule's constructor. */
abstract class StoreRules[R <: Rule[LogicalPlan]](make: (SparkSession, TableStore) => R) {

  /** Install the rule for `store` on the session's experimental
    * optimizer extensions. Returns the rule so callers (specs, gates,
    * embedded apps) can [[uninstall]] it. */
  def install(spark: SparkSession, store: TableStore): R = {
    val rule = make(spark, store)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ rule
    rule
  }

  def uninstall(spark: SparkSession, rule: R): Unit =
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ eq rule)

  /** The extension-injected flavor ([[graft.GraftExtensions]] routes it
    * through `injectOptimizerRule`): the store root comes from
    * `spark.graft.store.root` at APPLY time, so a cluster deployment
    * sets one conf key and every session built from the config rewrites
    * against that warehouse — no driver code. Unset conf = no-op. */
  def configured(spark: SparkSession): Rule[LogicalPlan] = new Configured(spark, make)
}

/** One rule and its own [[TableStore]] per store root, rebuilt when the
  * root changes. */
private final class Configured[R <: Rule[LogicalPlan]](
    spark: SparkSession, make: (SparkSession, TableStore) => R)
    extends Rule[LogicalPlan] {
  @volatile private var cached: Option[(String, R)] = None

  override def apply(plan: LogicalPlan): LogicalPlan =
    spark.conf.get("spark.graft.store.root", "") match {
      case "" => plan
      case root =>
        val rule = cached match {
          case Some((r, ru)) if r == root => ru
          case _ =>
            val ru = make(spark, new TableStore(spark, root))
            cached = Some((root, ru))
            ru
        }
        rule(plan)
    }
}
