package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The compositional trigram-hash chain: the reference the specs compare
  * [[graft.functions.shingleHashes]] against. Tokens are the `' '`-split
  * pieces of the text, each `xxhash64`'d; trigram hashes are two
  * `zip_with` passes over three shifted slices of the token-hash array;
  * `array_distinct` keeps first occurrences; a text of fewer than three
  * tokens gives `[xxhash64(text)]`. This was the dedup tier's production
  * spelling until the kernel replaced it (`transform` and `zip_with` are
  * `CodegenFallback`, so it ran interpreted). */
object ShingleHashReference {
  def hashes(text: Column): Column = {
    val th = transform(split(text, " "), t => xxhash64(t))
    val m = size(th) - lit(2) // trigram count
    val tri = zip_with(
      zip_with(slice(th, lit(1), m), slice(th, lit(2), m), (a, b) => xxhash64(a, b)),
      slice(th, lit(3), m), (p, c) => xxhash64(p, c))
    when(size(th) >= 3, array_distinct(tri)).otherwise(array(xxhash64(text)))
  }
}
