package graft

import graft.operators.TextOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Parity of the per-row language-profile kernel
  * ([[graft.functions.langProfileScores]]) with the compositional
  * reference ([[LangScoreReference]]), in both evaluation modes, plus the
  * source guard that keeps the explode-join scorer out of `src/main`. */
class LangProfileScoresSpec extends SparkSpec {
  import spark.implicits._

  private val interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
  private val codegen = Seq(
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")

  /** (doc_id → Some(s_<lang>…, n_hits, n_tri) or None for a null struct). */
  private def collectScores(df: DataFrame): Map[Long, Option[Seq[Long]]] =
    df.collect().map { r =>
      val sc = r.getAs[Row]("sc")
      r.getAs[Long]("doc_id") ->
        Option(sc).map(x => (0 until x.length).map(x.getLong))
    }.toMap

  test("langProfileScores equals the compositional reference row for row, interpreted and codegen") {
    // planted rows past the fixture's ASCII: every word-splitting and
    // code-point shape the kernel walks on its own
    val planted = Seq(
      1000001L -> null,
      1000002L -> "",
      1000003L -> "   ",
      1000004L -> "  leading and trailing  ",
      1000005L -> "double  spaces  between  words",
      1000006L -> "tab\tinside a\tb word",
      1000007L -> "new\nline a\nb",
      1000008L -> "café crème brûlée",
      1000009L -> "中文 文本 中文",
      1000010L -> "emoji a😀b 😀",
      1000011L -> "İstanbul İst",
      1000012L -> "ʬʬʬ ʭʭ",
      1000013L -> "qqq qqq",
      1000014L -> "THE Mixed CASE Text")
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text")
      .union(planted.toDF("doc_id", "text"))
    val profile = TextOps.langProfileRows(spark, sf) ++ Seq(
      ("fr", "fé ", 5000L),
      ("fr", "fé ", 250L),           // a duplicate entry sums
      ("zh", "中文 ", 7000L),
      ("en", "a😀b", 3000L), // the emoji is ONE code point
      ("en", "a\tb", 1234L),
      ("de", "i\u0307s", 4000L),      // İ lowers to two code points
      ("es", "qqq", 0L),              // a hit that scores nothing
      ("en", "toolong", 99L),         // never a trigram: dropped
      ("en", "ab", 99L))
    val langs = TextOps.profileLangs(profile)

    val want = collectScores(
      LangScoreReference.scores(docs, $"text", Seq($"doc_id"), profile))
    for ((mode, confs) <- Seq("interpreted" -> interpreted, "codegen" -> codegen)) {
      val got = withConfs(confs: _*) {
        collectScores(docs.select($"doc_id",
          graft.functions.langProfileScores($"text", profile).as("sc")))
      }
      assert(got.keySet === want.keySet, mode)
      for ((id, w) <- want) {
        if (id == 1000001L) {
          assert(got(id) === None, s"$mode: null text gives a null struct")
          assert(w.get.take(langs.size + 1).forall(_ == 0L),
            s"$mode: the reference scores a null text 0 with no hits: $w")
        } else assert(got(id) === w, s"$mode: doc $id")
      }
    }

    // the planted rows really exercise the shapes they name
    def sc(id: Long) = want(id).get
    val hits = langs.size
    val tri = langs.size + 1
    assert(sc(1000002L)(tri) === 0L && sc(1000003L)(tri) === 0L)
    assert(sc(1000012L)(hits) === 0L && sc(1000012L)(tri) === 5L,
      "zero hits with nonzero n_tri")
    assert(sc(1000013L)(hits) === 2L && sc(1000013L).take(langs.size).forall(_ == 0L),
      s"a weight-0 gram is a hit that scores nothing: ${sc(1000013L)}")
    assert(sc(1000010L)(tri) === 5L + 3L + 1L, "the emoji is one code point, not two chars")
    assert(sc(1000011L)(tri) === 9L + 4L, "İ lowers to two code points")
    assert(sc(1000008L)(langs.indexOf("fr")) >= 5250L, "duplicate entries sum")
  }

  test("source guard: the trigram explode only trains profiles; no profile broadcast in src/main") {
    val explodes = SourceScan.matches("""explode\(charTrigrams\(""".r, "src/main/scala")
    assert(explodes === Map("graft/operators/TextOps.scala" -> 1),
      s"the explode-join scorer is back: $explodes")
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/operators/TextOps.scala"))
    val trainer = src.indexOf("def langProfilesOf(")
    assert(trainer >= 0)
    val body = src.substring(trainer, src.indexOf("\n  }\n", trainer))
    assert(body.contains("explode(charTrigrams("),
      "the one trigram explode must be langProfilesOf's (training)")
    assert(SourceScan.matches("""broadcast\(prof""".r, "src/main/scala") === Map.empty,
      "score through graft.functions.langProfileScores, not a broadcast profile join")
  }
}
