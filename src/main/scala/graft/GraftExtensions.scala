package graft

import org.apache.spark.sql.SparkSessionExtensions

/**
 * Session extensions — registered via
 * `.config("spark.sql.extensions", "graft.GraftExtensions")` by
 * [[GraftSession]], which every graft session is built through.
 *
 * Rules: [[graft.index.TermFilterPushdown]], which routes
 * `array_contains(multivaluedField, lit)` filters over graft-index
 * relations into posting-list lookups, and [[graft.ops.LocalBroadcast]],
 * which broadcasts driver-held rows without a job. Both are pure
 * optimizations — plans produced without them return the same rows.
 *
 * One planner strategy, [[graft.ops.PerQueryTopKStrategy]], plans the
 * per-query top-n node the cell-store ANN queries end in; a session
 * without this extension cannot run those queries.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.index.TermFilterPushdown)
    ext.injectPlannerStrategy(_ => graft.ops.PerQueryTopKStrategy)
    ext.injectQueryStagePrepRule(_ => graft.ops.LocalBroadcast)
    // graft_term_match(text, term) — analyzed-term membership under
    // the index-time analyzer, SQL-callable (the DataFrame form is
    // graft.functions.TermMatch.graft_term_match, registry-free)
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_term_match"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.TermMatch].getName, "graft_term_match"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.length == 2,
          "graft_term_match(text, term) takes exactly 2 arguments")
        graft.functions.TermMatch(children.head, children(1))
      }))
  }
}
