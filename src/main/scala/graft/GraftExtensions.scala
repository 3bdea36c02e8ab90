package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** `spark.sql.extensions` entry point — the zero-code deployment path:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * installs the whole engine surface (TopK optimizer rewrite + physical
  * strategy, every custom SQL function) into EVERY session the cluster
  * builds, including pure-SQL clients like the Thrift server. It is the
  * ONLY install path: [[GraftSession.builder]] sets the same conf
  * (appending to any extensions already configured), so embedded use,
  * `Bench`, `Verify` and spark-submit deployments all run one rewrite and
  * one strategy.
  *
  * The optimizer rule is injected into the operator-optimization batch,
  * which runs to fixed point: the rewrite is idempotent (once the Window is
  * replaced by TopKPerGroup the pattern can never match again).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.TopKRewriteRule)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    graft.functions.GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
  }
}
