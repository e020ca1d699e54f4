// The Expression lives under org.apache.spark.sql.* because Catalyst's
// extension surface (AbstractDataType, ExpressionUtils.column) is
// private[sql] — the same namespace technique Spark-native libraries
// (Sedona, frameless, spark-nlp) use to register native expressions.
// The public graft API is the `graft.functions` facade at the bottom.
package org.apache.spark.sql.graftext

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native cosine similarity over two float-array columns, as a custom
  * Catalyst expression with code generation — the extension ladder's
  * middle rung: composition > native `Expression` > UDF.
  *
  * Why an `Expression` and not the `zip_with`+`aggregate` composition
  * (which is also fully native): the composition materializes an
  * intermediate product array per row pair and walks the inputs three
  * times (dot, |a|², |b|²); this kernel runs inside whole-stage codegen as
  * one allocation-free loop reading both `ArrayData` buffers once. On the
  * brute-force top-k scan (s1) — queries × corpus row pairs — the kernel
  * IS the hot loop, so at scale this is the difference that matters.
  *
  * Numerics: elements are widened float→double and each accumulator is a
  * sequential in-order fold, bit-identical to the compositional and UDF
  * kernels it replaces (and to the DuckDB oracle's
  * `list_cosine_similarity` after the 6-dp boundary round).
  *
  * Interpreted `nullSafeEval` and generated code produce identical
  * results; CosineSimilaritySpec asserts codegen vs interpreted parity.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_similarity"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val p = x.getFloat(i).toDouble
      val q = y.getFloat(i).toDouble
      dot += p * q; na += p * p; nb += q * q
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val p = ctx.freshName("p")
      val q = ctx.freshName("q")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $p = (double) $x.getFloat($i);
         |  double $q = (double) $y.getFloat($i);
         |  $dot += $p * $q; $na += $p * $p; $nb += $q * $q;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** SimHash fingerprint over an array of base hashes: bit i of the result
  * is set iff a strict majority of inputs have bit i set. `bits` ≤ 63.
  *
  * Exists so the fingerprint is a NARROW per-row computation: the
  * compositional alternative (explode + groupBy with `bits` partial sums)
  * shuffles one row per (doc, shingle) through an aggregate — a full
  * corpus exchange for a value that never needed to leave its row. One
  * allocation of an int[bits] tally per row, zero shuffles.
  *
  * Interpreted and generated paths are identical; parity is spec-tested
  * against the independent Scala reference implementation. */
case class SimHashFingerprint(child: Expression, bits: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(bits > 0 && bits < 64)

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_fingerprint"

  override protected def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val acc = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val h = xs.getLong(i)
      var b = 0
      while (b < bits) { acc(b) += ((h >>> b) & 1L).toInt; b += 1 }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < bits) { if (2 * acc(b) > n) fp |= 1L << b; b += 1 }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      s"""
         |int $n = $x.numElements();
         |int[] $acc = new int[$bits];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $x.getLong($i);
         |  for (int $b = 0; $b < $bits; $b++) { $acc[$b] += (int) (($h >>> $b) & 1L); }
         |}
         |${ev.value} = 0L;
         |for (int $b = 0; $b < $bits; $b++) {
         |  if (2 * $acc[$b] > $n) ${ev.value} |= 1L << $b;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHashFingerprint =
    copy(child = newChild)
}

/** Shared deterministic hash machinery — the single home of the MinHash
  * seed family and the splitmix64 finalizer (DedupOps.MinHash's reference
  * implementation and the codegen'd expression both read from here, so
  * they cannot drift apart). */
object GraftMix {
  val MinHashSeed = 420042L

  def seeds(n: Int): Array[Long] = {
    val rng = new scala.util.Random(MinHashSeed)
    Array.fill(n)(rng.nextLong())
  }

  /** splitmix64 finalizer — full-avalanche 64-bit mix. A linear
    * `(a·x+b) mod p` family would stay monotone over 64-bit inputs and
    * collapse the min-hash estimator; the mixer decorrelates properly. */
  @inline def splitmix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The same mixer as generated Java, for codegen'd callers. */
  val splitmix64Java: String =
    """private long graftMix64(long z) {
      |  z = z + 0x9e3779b97f4a7c15L;
      |  z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L;
      |  z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL;
      |  return z ^ (z >>> 31);
      |}""".stripMargin
}

/** MinHash LSH band keys over an array of 64-bit element hashes.
  *
  * Signature: `numHashes` seeded permutations — sig(i) = min over elements
  * of splitmix64(x ^ seed(i)) (a linear `(a·x+b) mod p` family would stay
  * monotone over 64-bit inputs and collapse the estimator; the finalizing
  * mixer decorrelates properly). Band key b = an iterated splitmix64 fold
  * of that band's `rows` signature values. Output: `numHashes / rows`
  * keys; the band index rides along as the array position (posexplode),
  * so keys need no band tag.
  *
  * One codegen'd loop per row — the UDF it replaces deserialized a
  * Seq[String] per document and murmur-hashed every shingle string per
  * call; here elements are already hashed longs from the same native
  * trigram-hash pass the exact kernel (d4) uses. */
case class MinHashBandKeys(child: Expression, numHashes: Int, rows: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(numHashes % rows == 0)

  private val bands = numHashes / rows
  // Deterministic seeds — fixed across runs and sessions.
  private lazy val seeds: Array[Long] = GraftMix.seeds(numHashes)

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_band_keys"

  @inline private def mix64(z: Long): Long = GraftMix.splitmix64(z)

  override protected def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val x = xs.getLong(i)
      var k = 0
      while (k < numHashes) {
        val h = mix64(x ^ seeds(k))
        if (h < sig(k)) sig(k) = h
        k += 1
      }
      i += 1
    }
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0L
      var r = 0
      while (r < rows) { h = mix64(h ^ sig(b * rows + r)); r += 1 }
      keys(b) = h
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(keys)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("seeds", seeds, "long[]")
    val mixFn = ctx.addNewFunction("graftMix64", GraftMix.splitmix64Java)
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val sig = ctx.freshName("sig")
      val keys = ctx.freshName("keys")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val b = ctx.freshName("b")
      val r = ctx.freshName("r")
      val z = ctx.freshName("z")
      s"""
         |int $n = $x.numElements();
         |long[] $sig = new long[$numHashes];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  for (int $k = 0; $k < $numHashes; $k++) {
         |    long $z = $mixFn($x.getLong($i) ^ $seedsRef[$k]);
         |    if ($z < $sig[$k]) $sig[$k] = $z;
         |  }
         |}
         |long[] $keys = new long[$bands];
         |for (int $b = 0; $b < $bands; $b++) {
         |  long $z = 0L;
         |  for (int $r = 0; $r < $rows; $r++) {
         |    $z = $mixFn($z ^ $sig[$b * $rows + $r]);
         |  }
         |  $keys[$b] = $z;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($keys);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBandKeys =
    copy(child = newChild)
}

/** Sign-LSH band keys for cosine similarity over a float vector: `bands` ×
  * `bandBits` seeded random hyperplanes; bit = sign of ⟨v, plane⟩; each
  * band's bits pack into one key, tagged with the band index in the high
  * bits (the caller may group on the key alone). Planes ride into codegen
  * as a flattened double[] reference object; one allocation-free loop per
  * row replaces a Seq-boxing UDF. */
case class SignLshBandKeys(child: Expression, bands: Int, bandBits: Int,
                           dim: Int, seed: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(bands * bandBits <= 4096)
  // Keys pack as (band << 32) | bits — wider bands would overlap the tag.
  require(bandBits <= 31, s"bandBits $bandBits would collide with the band tag")

  private val numBits = bands * bandBits
  // Flattened [bit][dim] Gaussian hyperplanes — deterministic per seed.
  private lazy val planes: Array[Double] = {
    val rng = new scala.util.Random(seed)
    Array.fill(numBits * dim)(rng.nextGaussian())
  }

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sign_lsh_band_keys"

  override protected def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = math.min(dim, v.numElements())
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var key = 0L
      var j = 0
      while (j < bandBits) {
        val k = b * bandBits + j
        var dot = 0.0
        var i = 0
        while (i < n) { dot += planes(k * dim + i) * v.getFloat(i); i += 1 }
        key = (key << 1) | (if (dot > 0) 1L else 0L)
        j += 1
      }
      keys(b) = (b.toLong << 32) | key
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(keys)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val keys = ctx.freshName("keys")
      val b = ctx.freshName("b")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val key = ctx.freshName("key")
      s"""
         |int $n = java.lang.Math.min($dim, $x.numElements());
         |long[] $keys = new long[$bands];
         |for (int $b = 0; $b < $bands; $b++) {
         |  long $key = 0L;
         |  for (int $j = 0; $j < $bandBits; $j++) {
         |    int $k = $b * $bandBits + $j;
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $dot += $planesRef[$k * $dim + $i] * (double) $x.getFloat($i);
         |    }
         |    $key = ($key << 1) | ($dot > 0 ? 1L : 0L);
         |  }
         |  $keys[$b] = ((long) $b << 32) | $key;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($keys);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SignLshBandKeys =
    copy(child = newChild)
}

/** The `nprobe` nearest IVF cells of a float-vector column under a
  * driver-shipped centroid table, in descending (cosine-score, cell-id)
  * order — the corpus-side scoring kernel of the IVF tier
  * ([[graft.operators.SimilarityOps]] assign/probe, k ≤ its inline cap).
  *
  * Why an `Expression`: the compositional form was k parallel
  * `aggregate(zip_with(v, array(<dim literals>), ...))` struct branches
  * in ONE projection — an expression tree that grows with k and is
  * rebuilt, re-analyzed and re-codegen'd on every serve (measured as the
  * dominant fixed cost of the ANN tier at k ≈ 45, dim 64: seconds of
  * driver time per pass, independent of data volume). Here the centroid
  * matrix rides as one reference object and the whole scoring is a
  * three-line loop nest inside whole-stage codegen.
  *
  * Numerics are bit-identical to the compositional path it replaces:
  * score = (Σ_i v_i·c_i)/‖c‖ with the same left-to-right fold order,
  * ‖c‖ precomputed driver-side with the same `sqrt(Σc²)`; selection
  * replays `sort_array(struct(s, i), desc)` — ties toward the higher
  * cell id. Selection is O(k·nprobe) per row, bounded by the caller's
  * inline cap (k ≤ 256); past the cap the broadcast centroid-relation
  * plan takes over (the data-scaled path at very large k).
  *
  * Interpreted and generated paths are identical; parity and equality
  * with the relation path are spec-asserted. */
case class NearestCells(child: Expression, centroids: Array[Array[Double]],
    nprobe: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(centroids.nonEmpty && nprobe > 0)

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_cells"

  private val dim = centroids(0).length
  // flattened centroid matrix + the SAME driver-side norm formula as the
  // compositional path (math.sqrt of a left-to-right Σc²)
  @transient private lazy val flat: Array[Double] = centroids.flatten
  @transient private lazy val norms: Array[Double] =
    centroids.map(c => math.sqrt(c.map(x => x * x).sum))

  private def select(scores: Array[Double]): ArrayData = {
    val kk = scores.length
    val m = math.min(nprobe, kk)
    val out = new Array[Int](m)
    val used = new Array[Boolean](kk)
    var r = 0
    while (r < m) {
      var best = -1
      var bs = Double.NegativeInfinity
      var c = 0
      while (c < kk) {
        // >= : ties toward the higher cell id (struct-desc order)
        if (!used(c) && (best < 0 || scores(c) >= bs)) { best = c; bs = scores(c) }
        c += 1
      }
      used(best) = true
      out(r) = best
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val kk = centroids.length
    val scores = new Array[Double](kk)
    var c = 0
    while (c < kk) {
      val n = math.min(dim, v.numElements())
      var dot = 0.0
      var i = 0
      while (i < n) { dot += v.getFloat(i).toDouble * flat(c * dim + i); i += 1 }
      scores(c) = dot / norms(c)
      c += 1
    }
    select(scores)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("centroidsFlat", flat, "double[]")
    val normsRef = ctx.addReferenceObj("centroidNorms", norms, "double[]")
    val kk = centroids.length
    val m = math.min(nprobe, kk)
    nullSafeCodeGen(ctx, ev, x => {
      val scores = ctx.freshName("scores")
      val used = ctx.freshName("used")
      val out = ctx.freshName("out")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val r = ctx.freshName("r")
      val best = ctx.freshName("best")
      val bs = ctx.freshName("bs")
      s"""
         |double[] $scores = new double[$kk];
         |int $n = java.lang.Math.min($dim, $x.numElements());
         |for (int $c = 0; $c < $kk; $c++) {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += (double) $x.getFloat($i) * $flatRef[$c * $dim + $i];
         |  }
         |  $scores[$c] = $dot / $normsRef[$c];
         |}
         |boolean[] $used = new boolean[$kk];
         |int[] $out = new int[$m];
         |for (int $r = 0; $r < $m; $r++) {
         |  int $best = -1; double $bs = Double.NEGATIVE_INFINITY;
         |  for (int $c = 0; $c < $kk; $c++) {
         |    if (!$used[$c] && ($best < 0 || $scores[$c] >= $bs)) {
         |      $best = $c; $bs = $scores[$c];
         |    }
         |  }
         |  $used[$best] = true;
         |  $out[$r] = $best;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)
}

/** PQ codes of a float-vector column under driver-shipped codebooks:
  * codes[m] = argmax_c ( dot(v_m, books[m][c]) − ‖books[m][c]‖²/2 ) —
  * the argmin-‖v_m − c‖² encode, ties toward the higher code, exactly
  * the struct-max semantics of the compositional encode it replaces
  * (which was M×K `aggregate(zip_with(...))` struct branches in one
  * projection — the index-build twin of the [[NearestCells]] tree
  * problem). Half-norms are precomputed driver-side with the same
  * left-to-right Σc²/2. Output: array<int> of M codes. */
case class PqEncodeCodes(child: Expression, books: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(books.nonEmpty && books.forall(_.nonEmpty))

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode_codes"

  private val numM = books.length
  private val numK = books(0).length
  private val sub = books(0)(0).length
  @transient private lazy val flat: Array[Double] =
    books.flatMap(_.flatten)
  @transient private lazy val halves: Array[Double] =
    books.flatMap(_.map(c => c.map(x => x * x).sum / 2))

  override protected def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val out = new Array[Int](numM)
    var m = 0
    while (m < numM) {
      var best = 0
      var bs = Double.NegativeInfinity
      var c = 0
      while (c < numK) {
        var dot = 0.0
        var i = 0
        while (i < sub) {
          dot += v.getFloat(m * sub + i).toDouble * flat((m * numK + c) * sub + i)
          i += 1
        }
        val s = dot - halves(m * numK + c)
        if (s >= bs) { best = c; bs = s } // ties toward the higher code
        c += 1
      }
      out(m) = best
      m += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("pqBooksFlat", flat, "double[]")
    val halvesRef = ctx.addReferenceObj("pqHalfNorms", halves, "double[]")
    nullSafeCodeGen(ctx, ev, x => {
      val out = ctx.freshName("out")
      val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val s = ctx.freshName("s")
      val best = ctx.freshName("best")
      val bs = ctx.freshName("bs")
      s"""
         |int[] $out = new int[$numM];
         |for (int $m = 0; $m < $numM; $m++) {
         |  int $best = 0; double $bs = Double.NEGATIVE_INFINITY;
         |  for (int $c = 0; $c < $numK; $c++) {
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $sub; $i++) {
         |      $dot += (double) $x.getFloat($m * $sub + $i)
         |        * $flatRef[($m * $numK + $c) * $sub + $i];
         |    }
         |    double $s = $dot - $halvesRef[$m * $numK + $c];
         |    if ($s >= $bs) { $best = $c; $bs = $s; }
         |  }
         |  $out[$m] = $best;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeCodes =
    copy(child = newChild)
}

/** The rounded-cosine nearest centroid of one vector: for centroids c_0 ..
  * c_{k-1}, the cell whose `round(cosine_similarity(v, c), 6)` is largest,
  * ties toward the higher cell, with that rounded score. Bit for bit it is
  * `max_by(cell_id, struct(round(cosine_similarity(v, c_vec), 6), cell_id))`
  * and `max(...)` over a cross join with the centroid relation, grouped
  * per vector (the test tree keeps that chain as `CentroidArgmaxReference`):
  *   - each raw score is [[CosineSimilarity]]'s `dot / (√Σv² · √Σc²)`, every
  *     sum a left-to-right fold over the first `min(|v|, dim)` elements
  *     widened to double. `√Σc²` is computed once here for a full-length
  *     vector and per row only for a short one; `√Σv²` once per row, so a
  *     (row, centroid) pair costs one dot product;
  *   - rounding is `round(x, 6)`'s: NaN and ±∞ pass, everything else is
  *     the HALF_UP decimal of `Double.toString(x)`. That map is monotone,
  *     so the winning rounded score is the round of the raw maximum, and
  *     only raw scores within [[CentroidScorer.Slack]] of it can round to
  *     it (two scores that round alike are less than 1e-6 apart): only
  *     those are rounded;
  *   - Spark's order puts NaN above every number, so a row with a NaN
  *     score (a zero or empty vector) goes to the highest NaN cell with
  *     score NaN. A null vector scores null against every cell, and the
  *     struct order then leaves the highest cell with score null.
  */
final class CentroidScorer(centroids: Array[Array[Float]]) extends Serializable {
  require(centroids.nonEmpty && centroids.forall(_.length == centroids(0).length),
    "centroid_argmax wants a non-empty rectangular centroid matrix")

  private val k = centroids.length
  private val dim = centroids(0).length
  private val flat: Array[Double] = centroids.flatMap(_.map(_.toDouble))
  private val norms: Array[Double] = Array.tabulate(k)(prefixNorm(_, dim))

  private def prefixNorm(c: Int, n: Int): Double = {
    var nb = 0.0
    var i = 0
    while (i < n) { val q = flat(c * dim + i); nb += q * q; i += 1 }
    math.sqrt(nb)
  }

  private def row(cell: Int, score: Any): org.apache.spark.sql.catalyst.InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](cell, score))

  /** The result for a null vector. */
  def nullRow(): org.apache.spark.sql.catalyst.InternalRow = row(k - 1, null)

  def argmax(v: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = math.min(v.numElements(), dim)
    val x = new Array[Double](n)
    var na = 0.0
    var i = 0
    while (i < n) { val p = v.getFloat(i).toDouble; x(i) = p; na += p * p; i += 1 }
    val sa = math.sqrt(na)
    val scores = new Array[Double](k)
    var mx = Double.NegativeInfinity
    var nan = -1
    var c = 0
    while (c < k) {
      var dot = 0.0
      val o = c * dim
      i = 0
      while (i < n) { dot += x(i) * flat(o + i); i += 1 }
      val s = dot / (sa * (if (n == dim) norms(c) else prefixNorm(c, n)))
      scores(c) = s
      if (s.isNaN) nan = c else if (s > mx) mx = s
      c += 1
    }
    if (nan >= 0) return row(nan, Double.NaN)
    val top = CentroidScorer.round6(mx)
    c = k - 1
    while (c >= 0) {
      val s = scores(c)
      if (s == mx || (s >= mx - CentroidScorer.Slack && CentroidScorer.round6(s) == top))
        return row(c, top)
      c -= 1
    }
    throw new IllegalStateException("unreachable: the raw maximum rounds to itself")
  }
}

object CentroidScorer {
  /** Raw scores this far below the maximum are never rounded: 1e-6, the
    * width of a 6-dp rounding class, plus room for the doubles' error. */
  val Slack = 2e-6

  /** Spark's `round(x, 6)` on a double. */
  def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
}

/** `struct<cell: int, score: double>`: the rounded-cosine nearest centroid
  * of an `array<float>` vector and its 6-dp score, as one codegen'd
  * per-row kernel (see [[CentroidScorer]] for the contract). The result is
  * never null; its score is null for a null vector.
  *
  * Why an `Expression` and not the cross join it replaces (s9, s10, e8):
  * that chain fanned every vector out to k rows, ran k cosines and k
  * decimal roundings, and merged the fan-out back with a `max_by`
  * aggregate keyed on the vector id, an exchange. Here the centroids ride
  * as one reference object, a row costs k dot products and, as a rule,
  * one rounding, and no exchange is needed. Both eval paths call
  * [[CentroidScorer.argmax]]. */
case class CentroidArgmax(child: Expression, scorer: CentroidScorer)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("score", DoubleType, nullable = true)))
  override def nullable: Boolean = false
  override def prettyName: String = "centroid_argmax"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) scorer.nullRow() else scorer.argmax(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("centroidScorer", scorer, classOf[CentroidScorer].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
      |  ${c.isNull} ? $ref.nullRow() : $ref.argmax(${c.value});
      """.stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidArgmax =
    copy(child = newChild)
}

/** Greedy longest-match subword token count of a string column under a
  * driver-known vocabulary — the classic BPE/WordPiece *inference* scan
  * (Sennrich et al. 2016's merge table applied greedily; the segmenter
  * every training-data token-budget pass runs), as one narrow per-row
  * kernel.
  *
  * Semantics (shared exactly with t4b's recursive-CTE DuckDB oracle):
  * scan the ASCII-lowercased text left to right; spaces emit nothing;
  * at a letter `[a-z]`, the longest vocab piece matching at that
  * position (pieces are 2..8 lowercase ASCII letters, so a match never
  * crosses a non-letter) counts as ONE token and the scan advances by
  * its length, else the single letter is a token; any other code point
  * is a single token. Equivalent to GPT-2-style pre-tokenization
  * (letter runs / digit runs / single other) followed by greedy
  * longest-prefix segmentation of each letter run — see
  * [[graft.operators.TextOps.t4bBpeTokenCount]] for the proof sketch.
  *
  * Why an `Expression` and not explode+join-against-a-piece-table: the
  * compositional route shuffles one row per (doc, pre-token) through a
  * corpus-scale exchange and joins it back, for a value that is a pure
  * per-row function. Here the vocab ships as ONE reference object — each
  * piece packed big-endian into a `long` (≤8 ASCII bytes; the leading
  * byte is ≥ 0x61, so magnitude encodes length and packings cannot
  * collide across lengths), sorted for binary search — and the scan is
  * an allocation-free loop inside whole-stage codegen.
  *
  * Only ASCII `A-Z` is lowercased (full Unicode lowering can change
  * code-point counts — e.g. İ — which would desync the two engines);
  * the corpus contract is ASCII text, and non-ASCII code points fall
  * through as single tokens on both sides.
  *
  * Interpreted and generated paths are identical; TextOpsSpec asserts
  * parity against an independent substring-based Scala reference. */
case class BpeTokenCount(child: Expression, vocab: Seq[String])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(vocab.nonEmpty && vocab.forall(p =>
    p.length >= 2 && p.length <= 8 && p.forall(c => c >= 'a' && c <= 'z')),
    "vocab pieces must be 2..8 lowercase ASCII letters")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "bpe_token_count"

  private val maxPieceLen = vocab.map(_.length).max

  /** Sorted packed pieces: piece bytes big-endian in a long. */
  @transient private lazy val packed: Array[Long] = {
    val a = vocab.distinct
      .map(_.foldLeft(0L)((acc, c) => (acc << 8) | c.toLong)).toArray
    java.util.Arrays.sort(a)
    a
  }

  override protected def nullSafeEval(a: Any): Any = {
    val s = a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    val n = s.length
    var i = 0
    var count = 0
    while (i < n) {
      val c0 = s.charAt(i)
      val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0
      if (c == ' ') i += 1
      else if (c >= 'a' && c <= 'z') {
        var best = 1
        var p = c.toLong
        var l = 2
        var run = true
        while (run && l <= maxPieceLen && i + l <= n) {
          val d0 = s.charAt(i + l - 1)
          val d = if (d0 >= 'A' && d0 <= 'Z') (d0 + 32).toChar else d0
          if (d < 'a' || d > 'z') run = false
          else {
            p = (p << 8) | d.toLong
            if (java.util.Arrays.binarySearch(packed, p) >= 0) best = l
            l += 1
          }
        }
        count += 1
        i += best
      } else {
        count += 1
        i += Character.charCount(s.codePointAt(i))
      }
    }
    count
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vocabRef = ctx.addReferenceObj("bpeVocabPacked", packed, "long[]")
    nullSafeCodeGen(ctx, ev, x => {
      val s = ctx.freshName("s")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val cnt = ctx.freshName("cnt")
      val c = ctx.freshName("c")
      val best = ctx.freshName("best")
      val p = ctx.freshName("p")
      val l = ctx.freshName("l")
      val d = ctx.freshName("d")
      s"""
         |java.lang.String $s = $x.toString();
         |int $n = $s.length();
         |int $i = 0; int $cnt = 0;
         |while ($i < $n) {
         |  char $c = $s.charAt($i);
         |  if ($c >= 'A' && $c <= 'Z') $c = (char) ($c + 32);
         |  if ($c == ' ') { $i++; continue; }
         |  if ($c >= 'a' && $c <= 'z') {
         |    int $best = 1;
         |    long $p = (long) $c;
         |    for (int $l = 2; $l <= $maxPieceLen && $i + $l <= $n; $l++) {
         |      char $d = $s.charAt($i + $l - 1);
         |      if ($d >= 'A' && $d <= 'Z') $d = (char) ($d + 32);
         |      if ($d < 'a' || $d > 'z') break;
         |      $p = ($p << 8) | (long) $d;
         |      if (java.util.Arrays.binarySearch($vocabRef, $p) >= 0) $best = $l;
         |    }
         |    $cnt++; $i += $best;
         |  } else {
         |    $cnt++; $i += java.lang.Character.charCount($s.codePointAt($i));
         |  }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}

/** [[BpeTokenCount]]'s id-emitting sibling (round 16): the IDENTICAL
  * greedy longest-prefix scan, but returning the token-id SEQUENCE a
  * trainer reads instead of its length — `array<int>`, one id per
  * token. The id space is deterministic and stated identically by the
  * DuckDB oracle:
  *
  *   - a matched vocab piece's id = its rank in the packed-long-sorted
  *     distinct vocab (binarySearch position). Packing is big-endian
  *     over 'a'..'z' bytes, so packed order ≡ (piece length, then
  *     lexicographic) — the oracle ranks by `(plen, piece)`;
  *   - an unmatched single letter c = V + (c − 'a')   (V = vocab size);
  *   - any other code point cp    = V + 26 + cp.
  *
  * Decoding is therefore total and lossless up to spaces: concatenating
  * the decoded tokens reproduces the ASCII-lowercased text with spaces
  * removed (spec-asserted), which is what makes the column trainable —
  * the packer ships sequences a decoder can read back.
  *
  * Same design rationale as the count: the vocab rides as ONE packed
  * `long[]` reference object and the scan stays allocation-bounded
  * (one int buffer per row) inside whole-stage codegen — no per-token
  * shuffle, no join against a piece table. */
case class BpeTokenIds(child: Expression, vocab: Seq[String])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(vocab.nonEmpty && vocab.forall(p =>
    p.length >= 2 && p.length <= 8 && p.forall(c => c >= 'a' && c <= 'z')),
    "vocab pieces must be 2..8 lowercase ASCII letters")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "bpe_token_ids"

  private val maxPieceLen = vocab.map(_.length).max

  @transient private lazy val packed: Array[Long] = {
    val a = vocab.distinct
      .map(_.foldLeft(0L)((acc, c) => (acc << 8) | c.toLong)).toArray
    java.util.Arrays.sort(a)
    a
  }

  override protected def nullSafeEval(a: Any): Any = {
    val s = a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    val n = s.length
    val v = packed.length
    val out = new scala.collection.mutable.ArrayBuffer[Int](n)
    var i = 0
    while (i < n) {
      val c0 = s.charAt(i)
      val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0
      if (c == ' ') i += 1
      else if (c >= 'a' && c <= 'z') {
        var best = 1
        var bestId = v + (c - 'a')
        var p = c.toLong
        var l = 2
        var run = true
        while (run && l <= maxPieceLen && i + l <= n) {
          val d0 = s.charAt(i + l - 1)
          val d = if (d0 >= 'A' && d0 <= 'Z') (d0 + 32).toChar else d0
          if (d < 'a' || d > 'z') run = false
          else {
            p = (p << 8) | d.toLong
            val idx = java.util.Arrays.binarySearch(packed, p)
            if (idx >= 0) { best = l; bestId = idx }
            l += 1
          }
        }
        out += bestId
        i += best
      } else {
        val cp = s.codePointAt(i)
        out += v + 26 + cp
        i += Character.charCount(cp)
      }
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out.toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vocabRef = ctx.addReferenceObj("bpeVocabPacked", packed, "long[]")
    nullSafeCodeGen(ctx, ev, x => {
      val s = ctx.freshName("s")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val buf = ctx.freshName("buf")
      val c = ctx.freshName("c")
      val best = ctx.freshName("best")
      val bestId = ctx.freshName("bestId")
      val p = ctx.freshName("p")
      val l = ctx.freshName("l")
      val d = ctx.freshName("d")
      val idx = ctx.freshName("idx")
      val cp = ctx.freshName("cp")
      s"""
         |java.lang.String $s = $x.toString();
         |int $n = $s.length();
         |int[] $buf = new int[$n];
         |int $i = 0; int $m = 0;
         |while ($i < $n) {
         |  char $c = $s.charAt($i);
         |  if ($c >= 'A' && $c <= 'Z') $c = (char) ($c + 32);
         |  if ($c == ' ') { $i++; continue; }
         |  if ($c >= 'a' && $c <= 'z') {
         |    int $best = 1;
         |    int $bestId = $vocabRef.length + ($c - 'a');
         |    long $p = (long) $c;
         |    for (int $l = 2; $l <= $maxPieceLen && $i + $l <= $n; $l++) {
         |      char $d = $s.charAt($i + $l - 1);
         |      if ($d >= 'A' && $d <= 'Z') $d = (char) ($d + 32);
         |      if ($d < 'a' || $d > 'z') break;
         |      $p = ($p << 8) | (long) $d;
         |      int $idx = java.util.Arrays.binarySearch($vocabRef, $p);
         |      if ($idx >= 0) { $best = $l; $bestId = $idx; }
         |    }
         |    $buf[$m++] = $bestId; $i += $best;
         |  } else {
         |    int $cp = $s.codePointAt($i);
         |    $buf[$m++] = $vocabRef.length + 26 + $cp;
         |    $i += java.lang.Character.charCount($cp);
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData
         |  .toArrayData(java.util.Arrays.copyOf($buf, $m));
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokenIds =
    copy(child = newChild)
}

/** KLL doubles quantile sketch aggregate (Karnin–Lang–Liberty 2016, the
  * DataSketches implementation Spark itself bundles for its HLL
  * functions) — the mergeable-quantile twin of Spark's `hll_sketch_agg`:
  * per-shard sketches a few KB each, union-aggregated without re-scanning
  * the data. Modeled line-for-line on Spark's own
  * `HllSketchAgg` (datasketchesAggregates.scala): a
  * `TypedImperativeAggregate` whose buffer is the live heap sketch,
  * serialized through the sketch's own compact byte format. Emits the
  * serialized sketch (`binary`), so the output IS the mergeable artifact
  * a deployment stores per partition/day/source.
  *
  * Determinism note: KLL compaction draws random offsets, so at sizes
  * past `k` the sketch bytes are not run-stable — every consumer contract
  * is therefore bound-shaped (rank error ≤ ε at high confidence) or
  * exact-mode (n ≤ k retains all values exactly); SketchOpsSpec pins
  * both. */
case class KllSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[
    org.apache.datasketches.kll.KllDoublesSketch]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression]
  with ExpectsInputTypes {
  import org.apache.datasketches.kll.KllDoublesSketch
  import org.apache.datasketches.memory.Memory

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "kll_sketch_agg"

  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(k)
  override def update(buf: KllDoublesSketch,
      input: org.apache.spark.sql.catalyst.InternalRow): KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[Double])
    buf
  }
  override def merge(buf: KllDoublesSketch,
      other: KllDoublesSketch): KllDoublesSketch = { buf.merge(other); buf }
  override def eval(buf: KllDoublesSketch): Any = buf.toByteArray
  override def serialize(buf: KllDoublesSketch): Array[Byte] = buf.toByteArray
  override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))
  override def withNewMutableAggBufferOffset(n: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): KllSketchAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): KllSketchAgg =
    copy(child = newChild)
}

/** Union aggregate over serialized KLL sketches — `hll_union_agg`'s
  * quantile twin: input is [[KllSketchAgg]]'s binary column, output the
  * merged sketch's bytes. Re-aggregation never touches the raw data. */
case class KllUnionAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[
    org.apache.datasketches.kll.KllDoublesSketch]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression]
  with ExpectsInputTypes {
  import org.apache.datasketches.kll.KllDoublesSketch
  import org.apache.datasketches.memory.Memory

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "kll_union_agg"

  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(k)
  override def update(buf: KllDoublesSketch,
      input: org.apache.spark.sql.catalyst.InternalRow): KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null)
      buf.merge(KllDoublesSketch.heapify(Memory.wrap(v.asInstanceOf[Array[Byte]])))
    buf
  }
  override def merge(buf: KllDoublesSketch,
      other: KllDoublesSketch): KllDoublesSketch = { buf.merge(other); buf }
  override def eval(buf: KllDoublesSketch): Any = buf.toByteArray
  override def serialize(buf: KllDoublesSketch): Array[Byte] = buf.toByteArray
  override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))
  override def withNewMutableAggBufferOffset(n: Int): KllUnionAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): KllUnionAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): KllUnionAgg =
    copy(child = newChild)
}

/** Scalar quantile lookup on a serialized KLL sketch (INCLUSIVE search
  * criteria — the DataSketches default and the deterministic choice:
  * the returned value is always a retained item). NULL on an empty
  * sketch. Interpreted-only (`CodegenFallback`): it runs on aggregate
  * OUTPUT rows — group-cardinality-many, never data-cardinality. */
case class KllQuantile(child: Expression, rank: Double)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    with ExpectsInputTypes {
  import org.apache.datasketches.kll.KllDoublesSketch
  import org.apache.datasketches.memory.Memory

  require(rank >= 0.0 && rank <= 1.0, s"rank $rank outside [0, 1]")
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "kll_quantile"

  override def nullSafeEval(bytes: Any): Any = {
    val sk = KllDoublesSketch.heapify(
      Memory.wrap(bytes.asInstanceOf[Array[Byte]]))
    if (sk.isEmpty) null
    else sk.getQuantile(rank,
      org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE)
  }
  override protected def withNewChildInternal(newChild: Expression): KllQuantile =
    copy(child = newChild)
}

/** The one shared normalization kernel behind [[NormalizeText]] — a
  * static method so the interpreted eval and the generated code call the
  * IDENTICAL bytes (the parity obligation is then structural, and the
  * spec's codegen-vs-interpreted check guards the wiring, not two copies
  * of the algorithm).
  *
  * Semantics (CCNet's pre-dedup normalization, Wenzek et al. 2020 §3.1,
  * restated as three composable steps — t25's contract, mirrored by the
  * DuckDB oracle as `nfc_normalize` → `\p{M}` strip → `[\t\n\f\r ]+`
  * collapse + trim):
  *
  *   1. Unicode NFC (JDK [[java.text.Normalizer]]): canonical-equivalent
  *      spellings converge — `a` + U+0301 composes to `á`, so the NFD
  *      and NFC twins of a document hash identically downstream;
  *   2. strip residual combining marks (general categories Mn/Mc/Me —
  *      exactly RE2's `\p{M}`): marks with no precomposed form (`w` +
  *      U+0303) reduce to their base letter;
  *   3. collapse runs of `[\t\n\f\r ]` — RE2's `\s` class, NOT
  *      `Character.isWhitespace` (which adds vertical tab, file
  *      separators, and Unicode spaces the oracle's regex would keep) —
  *      to one space, and trim leading/trailing runs entirely.
  *
  * Compatibility normalization (NFKC — fullwidth `ｓ`, ligatures) is
  * deliberately OUT of scope: DuckDB ships only `nfc_normalize`, so the
  * cross-engine contract is canonical-only, and the t25 derivation
  * plants a fullwidth char precisely to pin that both engines leave it
  * alone. */
object TextNormalizer {
  def normalize(s: String): String = {
    val nfc = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    val n = nfc.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var pendingSpace = false
    var started = false
    while (i < n) {
      val cp = nfc.codePointAt(i)
      val t = Character.getType(cp)
      if (t == Character.NON_SPACING_MARK || t == Character.ENCLOSING_MARK ||
          t == Character.COMBINING_SPACING_MARK) {
        () // strip
      } else if (cp == ' ' || cp == '\t' || cp == '\n' || cp == '\f' ||
          cp == '\r') {
        pendingSpace = true
      } else {
        if (pendingSpace && started) sb.append(' ')
        pendingSpace = false
        started = true
        sb.appendCodePoint(cp)
      }
      i += Character.charCount(cp)
    }
    sb.toString
  }
}

/** t25's Unicode text normalization as a codegen'd narrow expression —
  * the column every dedup hash should consume (CCNet normalizes BEFORE
  * MinHash; this engine hashed raw text until round 17, so the NFC and
  * NFD spellings of one document could never dedup together). Semantics
  * and the cross-engine contract live on [[TextNormalizer]]; this class
  * is the Catalyst wiring (the [[BpeTokenIds]] pattern), with both eval
  * paths delegating to the one static kernel. */
case class NormalizeText(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_text"

  override protected def nullSafeEval(a: Any): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      TextNormalizer.normalize(
        a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"""
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  org.apache.spark.sql.graftext.TextNormalizer.normalize($x.toString()));
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(child = newChild)
}

/** A trained (lang, gram, weight) character-trigram profile packed for
  * [[LangProfileScores]] — the ONE reference object the kernel ships.
  * Each gram's three code points are packed 21 bits apiece into a long
  * (`a << 42 | b << 21 | c`; U+10FFFF fits 21 bits, so distinct
  * trigrams never collide), `grams` holds the distinct packings sorted
  * for binary search, and `weights` is row-major gram × language, the
  * languages in ascending code order. A gram that is not exactly three
  * code points can never equal a text trigram and is dropped; duplicate
  * (lang, gram) entries sum, as a join against the rows would.
  *
  * Code points are decoded from the UTF-8 bytes (lead-byte widths as
  * `UTF8String.numBytesForFirstByte` gives them), on the text and on the
  * profile side alike; on valid UTF-8 that is exactly the cut Spark's
  * `split`/`length`/`substr` make. */
final class PackedLangProfile private (
    val langs: Array[String],
    val grams: Array[Long],
    val weights: Array[Long]) extends Serializable {
  import org.apache.spark.unsafe.types.UTF8String

  /** Scores `s` (already lowered) into the kernel's struct row: one
    * summed weight per language, then n_hits and n_tri. Words are the
    * runs between `' '` bytes (empty words contribute nothing), each
    * word `w` yields the length(w) code-point trigrams of
    * `' ' + w + ' '`. Every trigram occurrence counts into n_tri; one
    * found in the profile counts into n_hits and adds its weight per
    * language. The walk allocates nothing; the row is the only
    * allocation. */
  def eval(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val nl = langs.length
    val acc = new Array[Long](nl + 2)
    val n = s.numBytes
    var hits = 0L
    var tri = 0L
    var i = 0
    while (i < n) {
      if (s.getByte(i) == ' ') i += 1
      else {
        var a = 32L
        var w = PackedLangProfile.cpWidth(s, i)
        var b = PackedLangProfile.codePoint(s, i, w)
        i += w
        var last = false
        while (!last) {
          val c =
            if (i >= n || s.getByte(i) == ' ') { last = true; 32L }
            else {
              w = PackedLangProfile.cpWidth(s, i)
              val cp = PackedLangProfile.codePoint(s, i, w)
              i += w
              cp
            }
          tri += 1
          val g = java.util.Arrays.binarySearch(grams, (a << 42) | (b << 21) | c)
          if (g >= 0) {
            hits += 1
            var l = 0
            val base = g * nl
            while (l < nl) { acc(l) += weights(base + l); l += 1 }
          }
          a = b
          b = c
        }
      }
    }
    acc(nl) = hits
    acc(nl + 1) = tri
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      acc.map(v => v: Any))
  }

  private val hash = java.util.Arrays.hashCode(grams) * 31 +
    java.util.Arrays.hashCode(weights) * 17 + langs.toSeq.hashCode

  override def hashCode: Int = hash
  override def equals(o: Any): Boolean = o match {
    case p: PackedLangProfile => langs.sameElements(p.langs) &&
      java.util.Arrays.equals(grams, p.grams) &&
      java.util.Arrays.equals(weights, p.weights)
    case _ => false
  }
  override def toString: String =
    s"profile(${langs.mkString(",")}; ${grams.length} grams)"
}

object PackedLangProfile {
  import org.apache.spark.unsafe.types.UTF8String

  private def cpWidth(s: UTF8String, i: Int): Int =
    math.min(UTF8String.numBytesForFirstByte(s.getByte(i)), s.numBytes - i)

  private def codePoint(s: UTF8String, i: Int, w: Int): Long = {
    val b0 = s.getByte(i) & 0xFF
    if (w == 1) b0.toLong
    else {
      var cp = b0 & (0x7F >> w)
      var j = 1
      while (j < w) { cp = (cp << 6) | (s.getByte(i + j) & 0x3F); j += 1 }
      (cp & 0x1FFFFF).toLong
    }
  }

  /** `g`'s packing, or -1 when it is not exactly three code points. */
  private def pack(g: String): Long = {
    val s = UTF8String.fromString(g)
    var k = 0L
    var units = 0
    var i = 0
    while (i < s.numBytes) {
      val w = cpWidth(s, i)
      k = (k << 21) | codePoint(s, i, w)
      units += 1
      i += w
    }
    if (units == 3) k else -1L
  }

  def apply(profile: Seq[(String, String, Long)]): PackedLangProfile = {
    val langs = profile.map(_._1).distinct.sorted.toArray
    val langIx = langs.zipWithIndex.toMap
    val keyed = profile.flatMap { case (l, g, w) =>
      val k = pack(g)
      if (k < 0) None else Some((k, langIx(l), w))
    }
    val grams = keyed.map(_._1).distinct.sorted.toArray
    val weights = new Array[Long](grams.length * langs.length)
    keyed.foreach { case (k, l, w) =>
      weights(java.util.Arrays.binarySearch(grams, k) * langs.length + l) += w
    }
    new PackedLangProfile(langs, grams, weights)
  }
}

/** Per-row language-profile scoring — the Cavnar–Trenkle scorer t2b,
  * t22, t24, t26, e5, e9 and st13 share, as one narrow codegen'd
  * kernel. The child is `lower(text)` (see
  * [[GraftColumns.langProfileScores]]), so the lowering is Spark's own;
  * the kernel splits on `' '`, walks each space-padded word's code-point
  * trigrams and looks each one up in the [[PackedLangProfile]]. It
  * returns `struct<s_<lang>…, n_hits, n_tri>` (all bigint): one summed
  * profile weight per language in ascending code order, the trigram
  * occurrences found in the profile, and all trigram occurrences. A null
  * text gives a null struct.
  *
  * Why an `Expression` and not explode + profile join + pivot aggregate
  * (the compositional spelling the test tree keeps as
  * `LangScoreReference`): the score is a pure per-row function, and the
  * composition turned it into one row per trigram, a broadcast join, a
  * doc-keyed aggregate and a join back to the documents. Here the
  * profile ships as one reference object and the scan is a single pass
  * over the UTF-8 bytes. Both eval paths call [[PackedLangProfile.eval]]
  * (the [[NormalizeText]] pattern). */
case class LangProfileScores(child: Expression, profile: PackedLangProfile)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StructType(
    (profile.langs.toSeq.map(l => s"s_$l") ++ Seq("n_hits", "n_tri"))
      .map(StructField(_, LongType, nullable = false)))
  override def prettyName: String = "lang_profile_scores"

  override protected def nullSafeEval(a: Any): Any =
    profile.eval(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("langProfile", profile,
      classOf[PackedLangProfile].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.eval($x);")
  }

  override protected def withNewChildInternal(newChild: Expression): LangProfileScores =
    copy(child = newChild)
}

/** The `' '`-split tokens of a text, cut in place in its UTF-8 buffer —
  * the tokens Spark's `split(text, " ")` makes, empty pieces kept. On
  * valid UTF-8 the `' '` bytes are that cut; a buffer that is not valid
  * UTF-8 is re-encoded from its decoded string first, which is the
  * string `split` cuts. [[SpanHasher]] hashes and cuts over these
  * tokens. */
object SpaceTokens {
  import org.apache.spark.unsafe.Platform
  import org.apache.spark.unsafe.types.UTF8String

  /** `s`, or its decoded string re-encoded when `s` is not valid UTF-8
    * (checked only when a byte has its high bit set). */
  def valid(s: UTF8String): UTF8String = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var bits = 0
    var i = 0
    while (i < s.numBytes) {
      bits |= Platform.getByte(base, off + i)
      i += 1
    }
    if (bits < 0 && !s.isValid) UTF8String.fromString(s.toString) else s
  }

  /** The exclusive byte end of every `' '`-split token of `s`; token `k`
    * starts one byte past token `k - 1`'s end. */
  def ends(s: UTF8String): Array[Int] = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var spaces = 0
    var i = 0
    while (i < n) {
      if (Platform.getByte(base, off + i) == ' ') spaces += 1
      i += 1
    }
    val ends = new Array[Int](spaces + 1)
    var t = 0
    i = 0
    while (i < n) {
      if (Platform.getByte(base, off + i) == ' ') {
        ends(t) = i
        t += 1
      }
      i += 1
    }
    ends(t) = n
    ends
  }

  /** The first byte of token `k`, given its [[ends]]. */
  @inline def start(ends: Array[Int], k: Int): Int = if (k == 0) 0 else ends(k - 1) + 1
}

/** The word-trigram hash set of a text, computed by [[ShingleHashes]].
  * Bit for bit it is the compositional chain the dedup tier used before
  * (the test tree keeps it as `ShingleHashReference`):
  *
  *  - tokens are the `' '`-split pieces of the text, empty pieces kept
  *    (Spark's `split(text, " ")`), each hashed with `xxhash64` (seed 42);
  *  - a trigram's hash is `xxhash64(xxhash64(a, b), c)` over three
  *    consecutive token hashes;
  *  - duplicates are dropped keeping first-occurrence order
  *    (`array_distinct`);
  *  - a text of fewer than three tokens gives `[xxhash64(text)]`, so a
  *    null text gives `[42]`, the seed.
  *
  * Tokens are cut at the `' '` bytes of the UTF-8 buffer and hashed in
  * place. On valid UTF-8 that is the cut `split` makes; an invalid
  * buffer is split the way `split` does it, through its decoded string,
  * so even then the tokens hash to the same values. */
object ShingleHasher {
  import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}
  import org.apache.spark.unsafe.Platform
  import org.apache.spark.unsafe.types.UTF8String

  /** `xxhash64`'s seed. */
  private val Seed = 42L

  def hashes(s: UTF8String): ArrayData = {
    if (s == null) return UnsafeArrayData.fromPrimitiveArray(Array(Seed))
    val th = tokenHashes(s)
    val m = th.length - 2
    if (m < 1) return UnsafeArrayData.fromPrimitiveArray(Array(hash(s)))
    // open-addressing set over the trigram hashes, at most half full
    var cap = 4
    while (cap < 2 * m) cap <<= 1
    val mask = cap - 1
    val keys = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    val out = new Array[Long](m)
    var k = 0
    var j = 0
    while (j < m) {
      val h = XXH64.hashLong(th(j + 2),
        XXH64.hashLong(XXH64.hashLong(th(j + 1), XXH64.hashLong(th(j), Seed)), Seed))
      var slot = (h ^ (h >>> 32)).toInt & mask
      while (used(slot) && keys(slot) != h) slot = (slot + 1) & mask
      if (!used(slot)) {
        used(slot) = true
        keys(slot) = h
        out(k) = h
        k += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out, Platform.LONG_ARRAY_OFFSET, k, 8)
  }

  /** `xxhash64(s)`. */
  private def hash(s: UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed)

  /** `xxhash64` of every `' '`-split token of `s`, in order. */
  private def tokenHashes(s: UTF8String): Array[Long] = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var spaces = 0
    var bits = 0
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b == ' ') spaces += 1
      bits |= b
      i += 1
    }
    // a byte with its high bit set may start an invalid sequence
    if (bits < 0 && !s.isValid)
      return s.toString.split(" ", -1)
        .map(t => hash(UTF8String.fromString(t)))
    val th = new Array[Long](spaces + 1)
    var t = 0
    var start = 0
    i = 0
    while (i < n) {
      if (Platform.getByte(base, off + i) == ' ') {
        th(t) = XXH64.hashUnsafeBytes(base, off + start, i - start, Seed)
        t += 1
        start = i + 1
      }
      i += 1
    }
    th(t) = XXH64.hashUnsafeBytes(base, off + start, n - start, Seed)
    th
  }
}

/** Distinct word-trigram hashes of a text column as one codegen'd
  * per-row kernel: `array<bigint>`, never null and never empty (see
  * [[ShingleHasher]] for the contract). d2, d4, d6, d7, d8 and d15 build
  * their trigram sets with it.
  *
  * Why an `Expression` and not the `transform`/`zip_with`/`array_distinct`
  * chain it replaces: `ArrayTransform` and `ZipWith` are
  * `CodegenFallback`, so the chain ran interpreted per element inside
  * every codegen'd stage, and it built three sliced arrays per row. The
  * kernel hashes tokens in place in the UTF-8 buffer and emits one
  * primitive array. Both eval paths call [[ShingleHasher.hashes]] (the
  * [[NormalizeText]] pattern); a null text is an input, not a null
  * result, so the kernel overrides `eval` rather than `nullSafeEval`. */
case class ShingleHashes(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "shingle_hashes"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    ShingleHasher.hashes(
      child.eval(input).asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
      |  org.apache.spark.sql.graftext.ShingleHasher.hashes(${c.isNull} ? null : ${c.value});
      """.stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** The span tier's two per-row functions, computed by [[SpanHashes]] and
  * [[SpanCut]] over the text's [[SpaceTokens]]. Bit for bit they are the
  * compositional chains d10-d12 used before (the test tree keeps them as
  * `SpanHashReference` and `SpanCutReference`). */
object SpanHasher {
  import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}
  import org.apache.spark.unsafe.Platform
  import org.apache.spark.unsafe.types.UTF8String

  /** `xxhash64`'s seed. */
  private val Seed = 42L

  /** The hash of every `n`-token window of `s`, in start order:
    * `xxhash64(slice(split(s, " "), i + 1, n))`, that is seed 42 chained
    * through each token's bytes. Empty below `n` tokens and for null. */
  def hashes(s: UTF8String, n: Int): ArrayData = {
    val out = if (s == null) Array.emptyLongArray else {
      val t = SpaceTokens.valid(s)
      val ends = SpaceTokens.ends(t)
      val base = t.getBaseObject
      val off = t.getBaseOffset
      val hs = new Array[Long](math.max(0, ends.length - n + 1))
      var i = 0
      while (i < hs.length) {
        var h = Seed
        var k = i
        while (k < i + n) {
          val st = SpaceTokens.start(ends, k)
          h = XXH64.hashUnsafeBytes(base, off + st, ends(k) - st, h)
          k += 1
        }
        hs(i) = h
        i += 1
      }
      hs
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** `s` without the tokens the `(st, en)` intervals of `ivs` cover (token
    * `i` is cut when `st <= i < en`), the kept tokens re-joined with
    * `' '`: `concat_ws(" ", filter(split(s, " "), (t, i) -> !exists(ivs,
    * v -> i >= v.st and i < v.en)))`. A null `ivs` returns `s` unchanged;
    * a null bound, like a null interval, leaves that side open, as the
    * three-valued `exists` does. */
  def cut(s: UTF8String, ivs: ArrayData): UTF8String = {
    if (ivs == null) return s
    if (s == null) return UTF8String.EMPTY_UTF8
    val t = SpaceTokens.valid(s)
    val ends = SpaceTokens.ends(t)
    val n = ends.length
    val gone = new Array[Boolean](n)
    var j = 0
    while (j < ivs.numElements()) {
      var lo = 0
      var hi = n
      if (!ivs.isNullAt(j)) {
        val v = ivs.getStruct(j, 2)
        if (!v.isNullAt(0)) lo = math.max(lo, v.getInt(0))
        if (!v.isNullAt(1)) hi = math.min(hi, v.getInt(1))
      }
      while (lo < hi) { gone(lo) = true; lo += 1 }
      j += 1
    }
    val base = t.getBaseObject
    val off = t.getBaseOffset
    val out = new Array[Byte](t.numBytes)
    var len = 0
    var kept = 0
    var k = 0
    while (k < n) {
      if (!gone(k)) {
        if (kept > 0) { out(len) = ' '; len += 1 }
        val st = SpaceTokens.start(ends, k)
        Platform.copyMemory(base, off + st, out, Platform.BYTE_ARRAY_OFFSET + len, ends(k) - st)
        len += ends(k) - st
        kept += 1
      }
      k += 1
    }
    UTF8String.fromBytes(out, 0, len)
  }
}

/** The hash of every `n`-token window of a text column, in start order,
  * as one codegen'd per-row kernel: `array<bigint>`, never null, empty
  * below `n` tokens (see [[SpanHasher.hashes]] for the contract). d10,
  * d11 and d12 `posexplode` it, so the position is the window's 0-based
  * start token.
  *
  * Why an `Expression` and not the `transform(sequence(...), i ->
  * xxhash64(slice(split(text, " "), i + 1, n)))` chain it replaces:
  * `ArrayTransform` is `CodegenFallback`, and nothing hoisted the split
  * out of the lambda, so every window re-split the whole text (quadratic
  * in document length). The kernel cuts the tokens once and hashes each
  * window in place in the UTF-8 buffer. Both eval paths call
  * [[SpanHasher.hashes]] (the [[ShingleHashes]] pattern). */
case class SpanHashes(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  require(n >= 1, s"span_hashes window must hold at least one token, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "span_hashes"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    SpanHasher.hashes(
      child.eval(input).asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
      |  org.apache.spark.sql.graftext.SpanHasher.hashes(${c.isNull} ? null : ${c.value}, $n);
      """.stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SpanHashes =
    copy(child = newChild)
}

/** A text column with the token intervals of an `array<struct<st: int,
  * en: int>>` column cut out, as one codegen'd per-row kernel (see
  * [[SpanHasher.cut]] for the contract): d12's and t19's `clean_text`.
  *
  * Why an `Expression` and not the `filter`/`exists` rewrite it replaces:
  * both are `CodegenFallback`, the rewrite split the text into a token
  * array and tested every token against every interval through two
  * nested lambdas. The kernel marks the cut tokens once and copies the
  * kept bytes. Both eval paths call [[SpanHasher.cut]]. */
case class SpanCut(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, ArrayType)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    right.dataType match {
      case ArrayType(StructType(Array(StructField(_, IntegerType, _, _),
          StructField(_, IntegerType, _, _))), _) => super.checkInputDataTypes()
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"span_cut wants array<struct<st: int, en: int>> intervals, got ${other.simpleString}")
    }
  override def dataType: DataType = StringType
  override def nullable: Boolean = left.nullable && right.nullable
  override def prettyName: String = "span_cut"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    SpanHasher.cut(
      left.eval(input).asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      right.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val t = left.genCode(ctx)
    val v = right.genCode(ctx)
    ev.copy(code = code"""
      |${t.code}
      |${v.code}
      |org.apache.spark.unsafe.types.UTF8String ${ev.value} =
      |  org.apache.spark.sql.graftext.SpanHasher.cut(
      |    ${t.isNull} ? null : ${t.value}, ${v.isNull} ? null : ${v.value});
      |boolean ${ev.isNull} = ${ev.value} == null;
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SpanCut =
    copy(left = newLeft, right = newRight)
}

object GraftColumns {
  def shingleHashes(text: Column): Column =
    ExpressionUtils.column(ShingleHashes(ExpressionUtils.expression(text)))

  def spanHashes(text: Column, n: Int): Column =
    ExpressionUtils.column(SpanHashes(ExpressionUtils.expression(text), n))

  def spanCut(text: Column, ivs: Column): Column =
    ExpressionUtils.column(
      SpanCut(ExpressionUtils.expression(text), ExpressionUtils.expression(ivs)))

  def normalizeText(text: Column): Column =
    ExpressionUtils.column(NormalizeText(ExpressionUtils.expression(text)))

  def langProfileScores(text: Column, profile: Seq[(String, String, Long)]): Column =
    ExpressionUtils.column(LangProfileScores(
      ExpressionUtils.expression(org.apache.spark.sql.functions.lower(text)),
      PackedLangProfile(profile)))

  def cosineSim(a: Column, b: Column): Column =
    ExpressionUtils.column(
      CosineSimilarity(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def nearestCells(v: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    ExpressionUtils.column(
      NearestCells(ExpressionUtils.expression(v), centroids, nprobe))

  def pqEncodeCodes(v: Column, books: Array[Array[Array[Double]]]): Column =
    ExpressionUtils.column(
      PqEncodeCodes(ExpressionUtils.expression(v), books))

  def centroidArgmax(v: Column, centroids: Array[Array[Float]]): Column =
    ExpressionUtils.column(
      CentroidArgmax(ExpressionUtils.expression(v), new CentroidScorer(centroids)))

  def signLshBandKeys(v: Column, bands: Int, bandBits: Int, dim: Int, seed: Long): Column =
    ExpressionUtils.column(
      SignLshBandKeys(ExpressionUtils.expression(v), bands, bandBits, dim, seed))

  def simhashFingerprint(hashes: Column, bits: Int): Column =
    ExpressionUtils.column(
      SimHashFingerprint(ExpressionUtils.expression(hashes), bits))

  def minhashBandKeys(hashes: Column, numHashes: Int, rows: Int): Column =
    ExpressionUtils.column(
      MinHashBandKeys(ExpressionUtils.expression(hashes), numHashes, rows))

  def bpeTokenCount(text: Column, vocab: Seq[String]): Column =
    ExpressionUtils.column(
      BpeTokenCount(ExpressionUtils.expression(text), vocab))

  def bpeTokenIds(text: Column, vocab: Seq[String]): Column =
    ExpressionUtils.column(
      BpeTokenIds(ExpressionUtils.expression(text), vocab))

  def kllSketchAgg(v: Column, k: Int): Column =
    ExpressionUtils.column(
      KllSketchAgg(ExpressionUtils.expression(v), k).toAggregateExpression())

  def kllUnionAgg(sk: Column, k: Int): Column =
    ExpressionUtils.column(
      KllUnionAgg(ExpressionUtils.expression(sk), k).toAggregateExpression())

  def kllQuantile(sk: Column, rank: Double): Column =
    ExpressionUtils.column(
      KllQuantile(ExpressionUtils.expression(sk), rank))
}
