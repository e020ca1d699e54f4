package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Parity of the trigram-hash kernel ([[graft.functions.shingleHashes]])
  * with the compositional chain ([[ShingleHashReference]]), in both
  * evaluation modes, plus the source guard that keeps the chain out of
  * `src/main`. */
class ShingleHashesSpec extends SparkSpec {
  import spark.implicits._

  private val interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
  private val codegen = Seq(
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")

  private def collectSets(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("shingleHashes equals the compositional chain row for row, interpreted and codegen") {
    val planted = Seq(
      1000001L -> null,
      1000002L -> "",
      1000003L -> " ",
      1000004L -> "a",
      1000005L -> "a b",
      1000006L -> "a b c",
      1000007L -> " leading space words",
      1000008L -> "trailing space words ",
      1000009L -> "double  spaces  between  words",
      1000010L -> "x y z x y z x y z w",
      1000011L -> "   ",
      1000012L -> "café crème brûlée à la carte",
      1000013L -> "中文 文本 中文 文本 中文",
      1000014L -> "emoji a😀b 😀 c",
      1000015L -> "tab\tinside a\tb word")
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text")
      .union(planted.toDF("doc_id", "text"))
    val want = withConfs(interpreted: _*) {
      collectSets(docs.select($"doc_id", ShingleHashReference.hashes($"text")))
    }
    for ((mode, confs) <- Seq("interpreted" -> interpreted, "codegen" -> codegen)) {
      val got = withConfs(confs: _*) {
        collectSets(docs.select($"doc_id", graft.functions.shingleHashes($"text")))
      }
      assert(got.keySet === want.keySet, mode)
      for ((id, w) <- want) assert(got(id) === w, s"$mode: doc $id")
    }

    // the planted rows really exercise the shapes they name
    assert(want(1000001L) === Seq(42L), "a null text hashes to the seed")
    for (id <- Seq(1000002L, 1000003L, 1000004L, 1000005L))
      assert(want(id).size === 1, s"fewer than three tokens: whole-text hash ($id)")
    assert(want(1000006L).size === 1)
    assert(want(1000006L) !== want(1000004L), "one trigram is not the whole-text hash")
    assert(want(1000011L).size === 1, "four empty tokens: two equal trigrams collapse to one")
    assert(want(1000010L).size === 4, "repeated trigrams collapse in first-occurrence order")
    assert(want(1000009L).size === 5, "empty tokens between double spaces are kept")
    assert(want.valuesIterator.forall(_.nonEmpty))
  }

  test("an invalid UTF-8 text splits as Spark's split does") {
    // 0xC3 opens a two-byte sequence that the space does not continue,
    // and a lone 0xFF is never valid: split decodes both to U+FFFD
    val bad = Seq(
      Array[Byte]('a', ' ', 0xC3.toByte, ' ', 'b', ' ', 'c'),
      Array[Byte]('x', ' ', 0xFF.toByte, 'y', ' ', 'z', ' ', 0xFF.toByte))
    val df = bad.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("doc_id", "raw")
      .select($"doc_id", $"raw".cast("string").as("text"))
    val want = collectSets(df.select($"doc_id", ShingleHashReference.hashes($"text")))
    for ((mode, confs) <- Seq("interpreted" -> interpreted, "codegen" -> codegen)) {
      val got = withConfs(confs: _*) {
        collectSets(df.select($"doc_id", graft.functions.shingleHashes($"text")))
      }
      assert(got === want, mode)
    }
  }

  test("the kernel is one node: never null, no array lambdas in the plan") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, ZipWith}
    import org.apache.spark.sql.graftext.ShingleHashes
    val df = graft.operators.DedupOps.withShingleHashes(
      graft.sources.Tables.documents(spark, sf))
    assert(!df.schema("hs").nullable)
    object aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val exprs = aqe.flatMap(df.queryExecution.executedPlan)(
      _.expressions.flatMap(_.collect { case e => e }))
    assert(exprs.count(_.isInstanceOf[ShingleHashes]) === 1)
    assert(!exprs.exists(e => e.isInstanceOf[ArrayTransform] || e.isInstanceOf[ZipWith]))
  }

  test("source guard: the zip_with/xxhash64 trigram chain stays out of src/main") {
    // the token-hash array, and the lambda that chains two hashes
    val tokenHashes = """transform\(split\(.*?\)\s*,\s*\w+\s*=>\s*xxhash64\(""".r
    val pairHashes = """\(\w+,\s*\w+\)\s*=>\s*xxhash64\(\w+\s*,""".r
    for (p <- Seq(tokenHashes, pairHashes)) {
      assert(SourceScan.matches(p, "src/main/scala") === Map.empty,
        s"hash trigram sets with graft.functions.shingleHashes, not the chain ($p)")
      assert(SourceScan.matches(p, "src/test/scala")
          .get("graft/ShingleHashReference.scala").nonEmpty,
        s"the guard's pattern no longer matches the reference chain: $p")
    }
  }
}
