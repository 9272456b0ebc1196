package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Expression-level utilities.
  *
  * [[let]] is the workhorse: Catalyst performs no common-subexpression
  * elimination inside higher-order-function lambdas, so an expression like
  * `transform(seq, i -> f(element_at(EXPR, i)))` re-evaluates the whole
  * `EXPR` subtree once per array element — and CollapseProject folds
  * separate select steps back into one projection, so "materializing" via
  * `withColumn` does not help. Binding `EXPR` as a lambda variable —
  * `transform(array(EXPR), x -> body(x))[0]` — evaluates it exactly once
  * per row; inner references are O(1) variable lookups.
  *
  * Measured impact on the sf0.1 bench: shingle construction ~9 s → sub-s,
  * MinHash signature+banding 38 s → seconds (the signature was being
  * recomputed 12× per row, each recomputation itself re-deriving shingles).
  */
object Exprs {

  /** Let-binding for Column expressions: evaluate `bound` once per row and
    * reference it cheaply in `body`.
    */
  def let(bound: Column)(body: Column => Column): Column =
    transform(array(bound), x => body(x)).getItem(0)
}
