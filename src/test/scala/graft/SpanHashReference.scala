package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The compositional span-window chain: the reference the specs compare
  * [[graft.functions.spanHashes]] against. For every start `i` the
  * window's hash is `xxhash64(slice(split(text, " "), i + 1, n))`; a text
  * of fewer than `n` tokens gives `[xxhash64(text)]` (d10's whole-text
  * fallback). This was d10-d12's production spelling until the kernel
  * replaced it: `transform` is `CodegenFallback`, and the split inside
  * the lambda was re-evaluated per window, quadratic in document
  * length. */
object SpanHashReference {
  def hashes(text: Column, n: Int): Column = {
    val w = split(text, " ")
    val hs = transform(sequence(lit(0), size(w) - lit(n)),
      i => xxhash64(slice(w, i + lit(1), lit(n))))
    when(size(w) >= n, hs).otherwise(array(xxhash64(text)))
  }
}
