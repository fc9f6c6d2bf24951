package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{array, element_at, transform}

/** Column combinators that keep higher-order-function plans on the
  * cheap path. */
object ColOps {

  /** Evaluate `e` ONCE per row and hand it to `f` as a lambda
    * variable.
    *
    * HigherOrderFunctions run interpreted (no whole-stage codegen, no
    * per-element subexpression elimination), so an expression captured
    * inside a `transform`/`aggregate` lambda re-evaluates at EVERY
    * element. A lambda that slices a tokenized document — `transform(
    * idx, i => slice(split(text), i, k))` — therefore re-splits the
    * whole document per output gram: O(n²). Binding the tokens first
    * (`bound(split(text)) { toks => transform(idx, i => slice(toks,
    * i, k)) }`) restores O(n): the singleton-array `transform` forces
    * one evaluation and the inner lambda sees a variable, not an
    * expression. Measured: sim_topk_int8 2.47 s → 0.65 s at sf0.1
    * when int8Quantize's scale stopped being recomputed per level.
    */
  def bound(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), f), 1)
}
