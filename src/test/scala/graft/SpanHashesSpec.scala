package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parity of the span tier's kernels ([[graft.functions.spanHashes]] and
  * [[graft.functions.spanCut]]) with the compositional chains they
  * replaced ([[SpanHashReference]], [[SpanCutReference]]), in both
  * evaluation modes, plus the source guard that keeps both chains out of
  * `src/main`. */
class SpanHashesSpec extends SparkSpec {
  import spark.implicits._

  // ConvertToLocalRelation would evaluate the planted rows' projection on
  // the driver, interpreted, whatever the codegen confs say
  private val noLocalFold =
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
  private val interpreted = Seq(noLocalFold,
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
  private val codegen = Seq(noLocalFold,
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
  private val modes = Seq("interpreted" -> interpreted, "codegen" -> codegen)

  private val N = graft.operators.DedupOps.SpanN

  private def words(n: Int, tag: String = "w"): String =
    (0 until n).map(i => s"$tag$i").mkString(" ")

  // 0xC3 opens a two-byte sequence that the space does not continue, and
  // a lone 0xFF is never valid: split decodes both to U+FFFD
  private def invalid(tokens: Int): Array[Byte] =
    (0 until tokens).map {
      case i if i % 7 == 3 => Array[Byte](0xC3.toByte)
      case i if i % 7 == 5 => Array[Byte]('x', 0xFF.toByte, 'y')
      case i => s"t${i % 4}".getBytes("UTF-8")
    }.reduce(_ ++ Array[Byte](' ') ++ _)

  /** The sf0.001 documents plus planted rows, as (doc_id, text) with the
    * text cast from raw bytes so invalid UTF-8 can be planted too. */
  private def texts(): DataFrame = {
    val planted: Seq[(Long, Array[Byte])] = Seq(
      1L -> null,
      2L -> Array.emptyByteArray,
      3L -> words(N - 1).getBytes("UTF-8"),
      4L -> words(N).getBytes("UTF-8"),
      5L -> words(N + 1).getBytes("UTF-8"),
      6L -> (" " + words(N)).getBytes("UTF-8"),
      7L -> (words(N) + " ").getBytes("UTF-8"),
      8L -> words(N + 4).replace(" w3 ", "  w3  ").getBytes("UTF-8"),
      9L -> (0 until 4).map(_ => words(20)).mkString(" ").getBytes("UTF-8"),
      10L -> words(N + 8, "café中文😀").getBytes("UTF-8"),
      11L -> (" " * (N + 2)).getBytes("UTF-8"),
      12L -> "a b c".getBytes("UTF-8"),
      13L -> invalid(N + 3),
      14L -> invalid(5))
    val raw = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text".cast("binary").as("raw"))
      .union(planted.map { case (id, b) => (1000000L + id, b) }.toDF("doc_id", "raw"))
    raw.select($"doc_id", $"raw".cast("string").as("text"))
  }

  test("spanHashes equals the compositional window chain row for row, interpreted and codegen") {
    val docs = texts()
    for (n <- Seq(N, 3)) {
      val (want, tokens) = withConfs(interpreted: _*) {
        val rows = docs.select($"doc_id", SpanHashReference.hashes($"text", n),
          size(split($"text", " "))).collect()
        (rows.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap,
          rows.map(r => r.getLong(0) -> (if (r.isNullAt(2)) -1 else r.getInt(2))).toMap)
      }
      for ((mode, confs) <- modes) {
        val (kernel, d10) = withConfs(confs: _*) {
          val k = graft.functions.spanHashes($"text", n)
          val rows = docs.select($"doc_id", k,
            when(size(split($"text", " ")) >= n, k).otherwise(array(xxhash64($"text"))))
            .collect()
          (rows.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap,
            rows.map(r => r.getLong(0) -> r.getSeq[Long](2)).toMap)
        }
        assert(kernel.keySet === want.keySet, s"$mode n=$n")
        for ((id, w) <- want) {
          if (tokens(id) >= n) assert(kernel(id) === w, s"$mode n=$n: doc $id")
          else assert(kernel(id).isEmpty, s"$mode n=$n: doc $id has no $n-token window")
          assert(d10(id) === w, s"$mode n=$n: d10's windows of doc $id")
        }
      }
      if (n == N) {
        // the planted rows really exercise the shapes they name
        def p(id: Long) = 1000000L + id
        assert(tokens(p(1)) < 0 && want(p(1)) === Seq(42L), "a null text")
        assert(want(p(3)).size === 1 && want(p(4)).size === 1 && want(p(5)).size === 2)
        assert(want(p(5)).head === want(p(4)).head, "the first window of 51 tokens is the 50")
        assert(want(p(6)).size === 2 && want(p(7)).size === 2, "edge spaces add an empty token")
        assert(want(p(8)).size === 7, "double spaces add empty tokens")
        assert(want(p(9)).distinct.size === 20 && want(p(9)).size === 31,
          "repeated windows are all kept, in start order")
        assert(want(p(11)).distinct.size === 1 && want(p(11)).size === 4)
        assert(want(p(13)).size === 4, "invalid UTF-8 splits on its spaces")
        assert(want.count { case (id, _) => id < 1000000L && tokens(id) >= N } > 0,
          "some fixture documents have windows")
      }
    }
  }

  test("the kernel is one node: never null, no array lambdas; a 20,000-token text gives all its windows") {
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    import org.apache.spark.sql.graftext.SpanHashes
    val df = texts().select(posexplode(graft.functions.spanHashes($"text", N)))
    assert(!texts().select(graft.functions.spanHashes($"text", N).as("hs")).schema("hs").nullable)
    object aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val exprs = aqe.flatMap(df.queryExecution.executedPlan)(
      _.expressions.flatMap(_.collect { case e => e }))
    assert(exprs.count(_.isInstanceOf[SpanHashes]) === 1)
    assert(!exprs.exists(_.isInstanceOf[HigherOrderFunction]))
    // a 20,000-token text is 19,951 windows of 50 token hashes each; the
    // chain re-split the whole text per window (4·10⁸ token cuts)
    val long = Seq(words(20000)).toDF("text")
      .select(size(graft.functions.spanHashes($"text", N))).as[Int].head()
    assert(long === 20000 - N + 1)
  }

  private val ivType = ArrayType(StructType(Seq(
    StructField("st", IntegerType), StructField("en", IntegerType))))

  test("spanCut equals the compositional filter/exists rewrite row for row, interpreted and codegen") {
    val rnd = new scala.util.Random(20261021)
    def iv(st: Integer, en: Integer): Row = Row(st, en)
    val fixture = texts().collect().map { r =>
      val id = r.getLong(0)
      val text = Option(r.getString(1))
      val t = text.fold(0)(_.split(" ", -1).length)
      val ivs =
        if (rnd.nextInt(4) == 0) null
        else Seq.fill(1 + rnd.nextInt(3)) {
          val st = rnd.nextInt(t + 4) - 2
          iv(st, st + rnd.nextInt(60))
        }
      (id, ivs)
    }.toSeq
    val planted: Seq[(Long, Seq[Row])] = Seq(
      1L -> Seq(iv(0, 1)),                       // null text, non-null ivs
      2L -> Seq(iv(0, 1)),                       // "" cut to ""
      4L -> null,                                // null ivs keeps the text
      5L -> Seq(iv(3, 10), iv(8, 20), iv(40, 45)), // overlapping intervals
      6L -> Seq(iv(45, 90)),                     // en past the last token
      7L -> Seq.empty,                           // no intervals: nothing cut
      8L -> Seq(iv(null, 3), iv(50, null)),      // open bounds
      9L -> Seq(null),                           // a null interval
      10L -> Seq(iv(2, 5), iv(5, 7)),            // touching intervals
      11L -> Seq(iv(1, 3)),                      // empty tokens
      12L -> Seq(iv(-5, 1)),                     // a start before the text
      13L -> Seq(iv(0, 2)),                      // invalid UTF-8
      14L -> Seq(iv(1, 2)))
    val ivRows = (fixture.filter(_._1 < 1000000L) ++
      planted.map { case (id, v) => (1000000L + id, v) })
      .map { case (id, v) => Row(id, v) }
    val ivDf = spark.createDataFrame(spark.sparkContext.parallelize(ivRows),
      StructType(Seq(StructField("doc_id", LongType), StructField("ivs", ivType))))
    val docs = texts().join(ivDf, Seq("doc_id"), "left")

    def collectCut(f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column): Map[Long, String] =
      docs.select($"doc_id", f($"text", $"ivs")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = withConfs(interpreted: _*)(collectCut(SpanCutReference.cut))
    for ((mode, confs) <- modes) {
      val got = withConfs(confs: _*)(collectCut(graft.functions.spanCut))
      assert(got.keySet === want.keySet, mode)
      for ((id, w) <- want) assert(got(id) === w, s"$mode: doc $id")
    }

    def p(id: Long) = 1000000L + id
    assert(want(p(1)) === "" && want(p(2)) === "")
    assert(want(p(4)) === words(N) && want(p(7)) === words(N) + " ")
    assert(want(p(5)) === words(N + 1).split(" ").zipWithIndex
      .filterNot { case (_, i) => (i >= 3 && i < 20) || (i >= 40 && i < 45) }
      .map(_._1).mkString(" "))
    assert(want(p(6)) === " " + words(44), "a cut past the end stops at the last token")
    assert(want(p(9)) === "", "a null interval cuts every token")
    assert(fixture.count(_._2 == null) > 0 && fixture.count(_._2 != null) > 0)
  }

  test("spanCut rejects intervals that are not (int, int) structs") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(("a b", Seq(1L))).toDF("text", "ivs")
        .select(graft.functions.spanCut($"text", $"ivs")).schema
    }
    assert(e.getMessage.contains("span_cut"), e.getMessage)
  }

  test("source guard: the window-hash lambda and the filter/exists re-join stay out of src/main") {
    // the lambda that hashes each window's token slice, and the re-join
    // of a token array filtered against the interval list
    val windowHash = """=>\s*xxhash64\(slice\(""".r
    val reJoin = """concat_ws\([^,]*,\s*filter\(split\(""".r
    for ((p, ref) <- Seq(windowHash -> "graft/SpanHashReference.scala",
        reJoin -> "graft/SpanCutReference.scala")) {
      assert(SourceScan.matches(p, "src/main/scala") === Map.empty,
        s"use graft.functions.spanHashes / spanCut, not the chain ($p)")
      assert(SourceScan.matches(p, "src/test/scala").get(ref).nonEmpty,
        s"the guard's pattern no longer matches the reference chain: $p")
    }
  }
}
