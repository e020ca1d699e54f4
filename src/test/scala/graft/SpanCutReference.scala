package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The compositional span cut: the reference the specs compare
  * [[graft.functions.spanCut]] against. Token `i` of the `' '`-split
  * text is dropped when some interval `v` of `ivs` has
  * `v.st <= i < v.en`, and the kept tokens are re-joined with `' '`; a
  * null `ivs` keeps the text. This was d12's `clean_text` until the
  * kernel replaced it (`filter` and `exists` are `CodegenFallback`). */
object SpanCutReference {
  def cut(text: Column, ivs: Column): Column =
    when(ivs.isNull, text).otherwise(
      concat_ws(" ", filter(split(text, " "), (t, i) =>
        !exists(ivs, v =>
          i >= v.getField("st") && i < v.getField("en")))))
}
