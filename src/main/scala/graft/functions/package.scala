package graft

import org.apache.spark.sql.Column

/** Public column-function surface of the engine. */
package object functions {
  /** Cosine similarity of two `array<float>` columns — a codegen'd native
    * Catalyst expression (see
    * [[org.apache.spark.sql.graftext.CosineSimilarity]]). */
  def cosineSim(a: Column, b: Column): Column =
    org.apache.spark.sql.graftext.GraftColumns.cosineSim(a, b)

  /** SimHash fingerprint (per-bit strict-majority vote) of an
    * `array<bigint>` of base hashes — a narrow per-row codegen'd
    * expression (see
    * [[org.apache.spark.sql.graftext.SimHashFingerprint]]). */
  def simhashFingerprint(hashes: Column, bits: Int): Column =
    org.apache.spark.sql.graftext.GraftColumns.simhashFingerprint(hashes, bits)

  /** MinHash LSH band keys (`numHashes` permutations banded `rows`-deep)
    * of an `array<bigint>` of element hashes — codegen'd (see
    * [[org.apache.spark.sql.graftext.MinHashBandKeys]]). */
  def minhashBandKeys(hashes: Column, numHashes: Int, rows: Int): Column =
    org.apache.spark.sql.graftext.GraftColumns.minhashBandKeys(hashes, numHashes, rows)

  /** Sign-LSH band keys for cosine similarity of an `array<float>` vector
    * — codegen'd seeded hyperplane signs (see
    * [[org.apache.spark.sql.graftext.SignLshBandKeys]]). */
  def signLshBandKeys(v: Column, bands: Int, bandBits: Int, dim: Int, seed: Long): Column =
    org.apache.spark.sql.graftext.GraftColumns.signLshBandKeys(v, bands, bandBits, dim, seed)

  /** The `nprobe` nearest IVF cells of an `array<float>` vector under a
    * driver-shipped centroid matrix, descending (score, cell) order —
    * codegen'd (see [[org.apache.spark.sql.graftext.NearestCells]]). */
  def nearestCells(v: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    org.apache.spark.sql.graftext.GraftColumns.nearestCells(v, centroids, nprobe)

  /** PQ codes (M subquantizer argmins) of an `array<float>` vector under
    * driver-shipped codebooks — codegen'd (see
    * [[org.apache.spark.sql.graftext.PqEncodeCodes]]). */
  def pqEncodeCodes(v: Column, books: Array[Array[Array[Double]]]): Column =
    org.apache.spark.sql.graftext.GraftColumns.pqEncodeCodes(v, books)

  /** The rounded-cosine nearest centroid of an `array<float>` vector,
    * `struct<cell: int, score: double>`: the cell with the largest
    * `round(cosine_similarity(v, c), 6)`, ties toward the higher cell, and
    * that score. One codegen'd per-row kernel; the result is never null
    * (see [[org.apache.spark.sql.graftext.CentroidArgmax]]). */
  def centroidArgmax(v: Column, centroids: Array[Array[Float]]): Column =
    org.apache.spark.sql.graftext.GraftColumns.centroidArgmax(v, centroids)

  /** Greedy longest-match subword token count of a string column under a
    * driver-known vocabulary of 2..8-letter lowercase ASCII pieces — the
    * BPE-inference scan as one codegen'd per-row kernel (see
    * [[org.apache.spark.sql.graftext.BpeTokenCount]]). */
  def bpeTokenCount(text: Column, vocab: Seq[String]): Column =
    org.apache.spark.sql.graftext.GraftColumns.bpeTokenCount(text, vocab)

  /** Greedy longest-match subword token-ID SEQUENCE (`array<int>`) of a
    * string column under the same vocabulary contract — the scan
    * [[bpeTokenCount]] runs, emitting what the trainer reads: piece ids
    * by packed-vocab rank, then single letters, then raw code points
    * (see [[org.apache.spark.sql.graftext.BpeTokenIds]]). */
  def bpeTokenIds(text: Column, vocab: Seq[String]): Column =
    org.apache.spark.sql.graftext.GraftColumns.bpeTokenIds(text, vocab)

  /** Per-row character-trigram language scores of a string column under a
    * trained (lang, gram, weight) profile: `struct<s_<lang>…, n_hits,
    * n_tri>` over `lower(text)`, one codegen'd narrow kernel (see
    * [[org.apache.spark.sql.graftext.LangProfileScores]]). */
  def langProfileScores(text: Column, profile: Seq[(String, String, Long)]): Column =
    org.apache.spark.sql.graftext.GraftColumns.langProfileScores(text, profile)

  /** Distinct word-trigram hashes of a string column in first-occurrence
    * order (`array<bigint>`, never null or empty; a text of fewer than
    * three `' '`-split tokens gives its own hash) — the dedup tier's
    * trigram sets as one codegen'd narrow kernel (see
    * [[org.apache.spark.sql.graftext.ShingleHashes]]). */
  def shingleHashes(text: Column): Column =
    org.apache.spark.sql.graftext.GraftColumns.shingleHashes(text)

  /** The `xxhash64` of every `n`-token window of a string column's
    * `' '`-split tokens, in start order (`array<bigint>`, never null;
    * empty below `n` tokens and for a null text) — the span-dedup tier's
    * window hashes as one codegen'd narrow kernel (see
    * [[org.apache.spark.sql.graftext.SpanHashes]]). */
  def spanHashes(text: Column, n: Int): Column =
    org.apache.spark.sql.graftext.GraftColumns.spanHashes(text, n)

  /** A string column with the `' '`-split token intervals of an
    * `array<struct<st: int, en: int>>` column (`st <= i < en`) cut out,
    * the kept tokens re-joined with `' '`; a null interval list keeps
    * the text as it is (see [[org.apache.spark.sql.graftext.SpanCut]]). */
  def spanCut(text: Column, ivs: Column): Column =
    org.apache.spark.sql.graftext.GraftColumns.spanCut(text, ivs)

  /** Unicode text normalization (NFC → combining-mark strip → whitespace
    * collapse/trim — CCNet's pre-dedup canonicalization) as one codegen'd
    * narrow expression (see
    * [[org.apache.spark.sql.graftext.NormalizeText]]). */
  def normalizeText(text: Column): Column =
    org.apache.spark.sql.graftext.GraftColumns.normalizeText(text)

  /** KLL doubles quantile-sketch aggregate over a double column — the
    * mergeable-quantile twin of `hll_sketch_agg`, emitting the sketch's
    * compact bytes (see [[org.apache.spark.sql.graftext.KllSketchAgg]]). */
  def kllSketchAgg(v: Column, k: Int): Column =
    org.apache.spark.sql.graftext.GraftColumns.kllSketchAgg(v, k)

  /** Union aggregate over serialized KLL sketches (see
    * [[org.apache.spark.sql.graftext.KllUnionAgg]]). */
  def kllUnionAgg(sk: Column, k: Int): Column =
    org.apache.spark.sql.graftext.GraftColumns.kllUnionAgg(sk, k)

  /** Quantile lookup on a serialized KLL sketch (see
    * [[org.apache.spark.sql.graftext.KllQuantile]]). */
  def kllQuantile(sk: Column, rank: Double): Column =
    org.apache.spark.sql.graftext.GraftColumns.kllQuantile(sk, rank)
}
