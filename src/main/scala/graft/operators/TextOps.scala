package graft.operators

import graft.sources.{Layouts, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** M3 text-analysis tier over `documents` (driver brief: lang-ID, quality
  * scoring, token counting, fingerprinting). The reference has no text
  * operators at all (SURVEY §2.3) — its users would write them inside Perl
  * mapper closures; here every operator is a native (codegen'd) column
  * expression — zero UDFs — so the whole pack runs inside one
  * WholeStageCodegen span per query and scales embarrassingly: each is a
  * narrow per-row map with no shuffle except the final aggregate where one
  * exists.
  *
  * Everything is deterministic and DuckDB-expressible, so all five queries
  * carry exact oracles. Floats are rounded at the boundary (6 dp) to keep
  * the hash compare representation-stable.
  */
object TextOps {

  private def words(text: Column): Column = split(text, " ")

  // ------------------------------------------------------------ t1 stats

  /** t1: per-document surface statistics — chars, words, distinct words,
    * type/token ratio, mean word length. Narrow map, no shuffle. */
  def t1TextStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = words($"text")
    Tables.documents(s, dir).select(
      $"doc_id",
      length($"text").as("chars"),
      size(w).as("n_words"),
      size(array_distinct(w)).as("n_distinct"),
      round(size(array_distinct(w)).cast("double") / size(w), 6).as("ttr"),
      round((length($"text") - size(w) + 1).cast("double") / size(w), 6)
        .as("mean_word_len"))
  }

  private val t1Sql =
    """SELECT doc_id,
      |  CAST(length(text) AS INT) AS chars,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_words,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
      |  round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |        / len(string_split(text, ' ')), 6) AS ttr,
      |  round(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
      |        / len(string_split(text, ' ')), 6) AS mean_word_len
      |FROM documents""".stripMargin

  // ---------------------------------------------------------- t2 lang-ID

  /** Tiny per-language marker lexicons for the n-gram/stopword heuristic.
    * Real pipelines load 100s of markers per language; the mechanism —
    * count marker hits per language in one pass, argmax — is identical. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "fast", "slow"),
    "es" -> Seq("el", "la", "los", "de", "que", "y"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist"),
    "fr" -> Seq("le", "la", "les", "de", "et", "est"))

  private def markerHits(w: Column, markers: Seq[String]): Column =
    size(filter(w, x => x.isInCollection(markers)))

  /** t2: language identification by marker-word voting — per language,
    * count marker occurrences; predict the argmax (deterministic tiebreak:
    * higher count wins, ties keep the earliest DECLARED language — the
    * fold only replaces on strictly greater). One narrow map;
    * the lexicons live in the plan as literals, broadcast with the task
    * binary — nothing is shuffled at any scale. */
  def t2LangId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = words($"text")
    val cols = Seq($"doc_id", $"lang".as("labeled_lang"), size(w).as("n_words")) ++
      langMarkers.map { case (code, m) => markerHits(w, m).as(s"hits_$code") }
    val scored = Tables.documents(s, dir).select(cols: _*)
    val best = langMarkers.map { case (code, _) =>
      struct(col(s"hits_$code").as("h"), lit(code).as("c"))
    }.reduce((a, b) => when(b("h") > a("h"), b).otherwise(a))
    scored.select(
      $"doc_id", $"labeled_lang",
      best.getField("c").as("pred_lang"),
      round(best.getField("h").cast("double") / $"n_words", 6).as("marker_ratio"))
  }

  private val t2Sql = {
    val hits = langMarkers.map { case (code, m) =>
      val lst = m.map(x => s"'$x'").mkString("[", ", ", "]")
      s"len(list_filter(string_split(text, ' '), x -> list_contains($lst, x))) AS hits_$code"
    }.mkString(",\n  ")
    // Fold with the SAME tiebreak as the Spark side: strictly-greater wins,
    // so on ties the earlier language in declaration order survives.
    val best = langMarkers.map { case (code, _) => s"{'h': hits_$code, 'c': '$code'}" }
      .reduce((a, b) => s"(CASE WHEN ($b).h > ($a).h THEN $b ELSE $a END)")
    s"""WITH scored AS (
       |  SELECT doc_id, lang AS labeled_lang,
       |  len(string_split(text, ' ')) AS n_words,
       |  $hits
       |  FROM documents)
       |SELECT doc_id, labeled_lang,
       |  ($best).c AS pred_lang,
       |  round(CAST(($best).h AS DOUBLE) / n_words, 6) AS marker_ratio
       |FROM scored""".stripMargin
  }

  // ------------------------------------------- t2b trained char-gram lang-ID

  /** Top char-trigrams kept per language profile — Cavnar–Trenkle 1994's
    * own constant (their rank cutoff; here the retained-feature cutoff). */
  private[graft] val ProfileTopM = 300
  /** Profile version — bump on any change to the gram construction,
    * padding, cutoff, or weight quantization. */
  private[graft] val ProfileVersion = 1

  /** Space-padded within-word char trigrams of lowercased text — the
    * Cavnar–Trenkle feature set: each word `w` contributes
    * length(w) trigrams of `' ' + w + ' '` (so boundary shapes like
    * `" sc"` / `"ón "` are features), empty words (doubled spaces)
    * contribute none. Built as a nested transform over the WORD array —
    * per-word substr is O(wordlen²) on short strings, never the
    * O(textlen²) of whole-text substr scanning (UTF8String.substring
    * walks bytes from the start per call). */
  private[graft] def charTrigrams(text: Column): Column = {
    val ws = filter(split(lower(text), " "), w => length(w) >= 1)
    flatten(transform(ws, w =>
      transform(sequence(lit(1), length(w)), i =>
        concat(lit(" "), w, lit(" ")).substr(i, lit(3)))))
  }

  /** The SQL spelling of [[charTrigrams]] over an arbitrary column —
    * parameterized at the source (not respelled per consumer) so t2b,
    * t22 and st13 all interpolate the ONE snippet (ADVICE r14). */
  private[graft] def charTrigramsSqlOf(c: String): String =
    s"""flatten(list_transform(
      |  list_filter(string_split(lower($c), ' '), w -> length(w) >= 1),
      |  w -> list_transform(generate_series(1, length(w)),
      |         i -> substr(' ' || w || ' ', i, 3))))""".stripMargin
      .replaceAll("\n", " ")

  private[graft] val charTrigramsSql = charTrigramsSqlOf("text")

  /** t2b: TRAINED language identification — the Cavnar–Trenkle/fastText
    * char-n-gram profile method, the real-pipeline upgrade over t2's
    * marker-word voting: per language, the reference slice (t10's
    * held-out doc_id % [[DecontMod]] == 0, which carries the labeled
    * `lang` column) trains a profile of its [[ProfileTopM]] most
    * frequent padded char trigrams, each weighted by its micro-unit
    * frequency w = (c·10⁶) div total(lang) — integer-exact, the t18
    * quantization. A document's score for a language is the sum of
    * profile weights over its own trigram OCCURRENCES; the prediction
    * is the argmax (ties by language code ascending — both engines
    * replay the same order). Short or marker-free documents that defeat
    * word voting still carry dozens of char trigrams — the spec pins
    * exactly that win on planted ambiguous docs.
    *
    * Scale shape: training is one map-side-combined (lang, gram)
    * aggregate over the REFERENCE slice only, windowed per lang over
    * the lang-vocab-bounded count relation, persisted fingerprint-named
    * ([[lmModel]] discipline — warm processes train nothing). Scoring
    * is a pure narrow map over ONE documents scan: the codegen'd
    * [[graft.functions.langProfileScores]] kernel carries the
    * ≤ langs×[[ProfileTopM]] profile as one packed reference object and
    * scores each row's trigrams in place, and the argmax is t2's
    * strictly-greater literal fold over its per-language fields. No
    * trigram row, join or exchange exists at any corpus size. */
  def t2bLangIdTrained(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val profile = langProfileRows(s, dir)
    val best = bestLangStruct(profileLangs(profile), $"sc")
    Tables.documents(s, dir)
      .select($"doc_id", $"lang".as("labeled_lang"),
        graft.functions.langProfileScores($"text", profile).as("sc"))
      .select($"doc_id", $"labeled_lang",
        best.getField("c").as("pred_lang"),
        best.getField("s").as("score_micro"))
  }

  /** Minimum average profile weight per trigram occurrence (micro-units)
    * for a doc to count as confidently identified under the trained
    * profile — the calibration shared by st13's streaming gate and e9's
    * funnel stage, homed with the profile it calibrates. Measured on
    * the fixture: clean docs land in [8048, 10058] at both sf0.001 and
    * sf0.01, out-of-model gibberish hits almost no profile grams and
    * lands near 0 — τ at half the clean floor separates them with
    * headroom both ways. Per-corpus calibration — the GATE is the
    * contract, exactly mC4's 0.7-confidence posture. */
  private[graft] val LangGateTauMicro = 4000L

  /** The distinct sorted language codes a profile carries — the pivot
    * and argmax column order every profile consumer shares. */
  private[graft] def profileLangs(profile: Seq[(String, String, Long)]): Seq[String] =
    profile.map(_._1).distinct.sorted

  /** The deterministic argmax over a [[graft.functions.langProfileScores]]
    * struct `sc`: a strictly-greater fold over langs in ASC order, so ties
    * keep the earlier (smaller) code — every oracle's (score DESC, lang
    * ASC). A null `sc` (null text) scores 0 everywhere. */
  private[graft] def bestLangStruct(langs: Seq[String], sc: Column): Column =
    langs.map { l =>
      struct(coalesce(sc.getField(s"s_$l"), lit(0L)).as("s"), lit(l).as("c"))
    }.reduce((a, b) => when(b("s") > a("s"), b).otherwise(a))

  /** The trained (lang, gram, weight) profile relation over any labeled
    * documents frame — the spec drives planted corpora through this
    * kernel. */
  private[graft] def langProfilesOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val counts = docs.where($"doc_id" % DecontMod === 0)
      .select($"lang", explode(charTrigrams($"text")).as("g"))
      .groupBy($"lang", $"g").agg(count(lit(1)).as("c"))
    val byLang = Window.partitionBy($"lang")
    counts
      .withColumn("tot", sum($"c").over(byLang))
      .withColumn("rk", row_number().over(byLang.orderBy($"c".desc, $"g")))
      .where($"rk" <= ProfileTopM)
      .select($"lang", $"g", expr("(c * 1000000L) div tot").as("w"))
  }

  private[graft] def langProfilePath(s: SparkSession, dir: String): String =
    Layouts.artifactPath(s,
      s"graft_t2b_profiles_v${ProfileVersion}_m${ProfileTopM}", dir, "documents")

  private val profileMemo = new graft.sources.FingerprintMemo[Seq[(String, String, Long)]]

  /** Collected profile rows for `dir` — trained once per corpus
    * fingerprint, persisted, memoized; the collect is bounded by
    * langs × [[ProfileTopM]]. Fails loudly on an unlabeled/empty
    * reference slice. */
  private[graft] def langProfileRows(s: SparkSession, dir: String): Seq[(String, String, Long)] = {
    val path = langProfilePath(s, dir)
    profileMemo.getOrBuild(s, dir, "", path) {
        import s.implicits._
        Layouts.publish(path)(
          langProfilesOf(Tables.documents(s, dir)).repartition(1).write)
        val rows = s.read.schema("lang STRING, g STRING, w LONG").parquet(path)
          .as[(String, String, Long)].collect().toSeq
          .sortBy(r => (r._1, r._2))
        require(rows.nonEmpty,
          s"t2b: reference slice at $dir trained an empty profile")
        rows
      }
  }

  // The trained-profile CTEs ([[langProfilesOf]]'s SQL half: corpus
  // trigram stream, reference-slice counts, top-M micro-unit weights) —
  // shared verbatim by the t2b and t22 oracles, ONE SQL spelling of the
  // trainer to match the ONE persisted artifact both operators load.
  // lazy: interpolates DecontMod, declared further down the object —
  // an eager val here would read it as 0 mid-initialization.
  private[graft] lazy val profileCtesSql =
    s"""gr AS (
       |  SELECT doc_id, lang, unnest($charTrigramsSql) AS g
       |  FROM documents),
       |cnt AS (
       |  SELECT lang, g, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM gr WHERE doc_id % $DecontMod = 0
       |  GROUP BY 1, 2),
       |prof AS (
       |  SELECT lang AS p_lang, g, ((c * 1000000) // tot) AS w
       |  FROM (
       |    SELECT lang, g, c,
       |      CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS tot,
       |      row_number() OVER (PARTITION BY lang ORDER BY c DESC, g) AS rk
       |    FROM cnt) t
       |  WHERE rk <= $ProfileTopM)""".stripMargin

  private lazy val t2bSql =
    s"WITH $profileCtesSql,\n" +
    s"""langs AS (SELECT DISTINCT p_lang FROM prof),
       |sc AS (
       |  SELECT gr.doc_id, p.p_lang, CAST(SUM(p.w) AS BIGINT) AS s
       |  FROM gr JOIN prof p ON gr.g = p.g
       |  GROUP BY 1, 2),
       |full_sc AS (
       |  SELECT d.doc_id, d.lang AS labeled_lang, l.p_lang,
       |    COALESCE(sc.s, 0) AS s
       |  FROM documents d CROSS JOIN langs l
       |  LEFT JOIN sc ON sc.doc_id = d.doc_id AND sc.p_lang = l.p_lang)
       |SELECT doc_id, labeled_lang, p_lang AS pred_lang,
       |  CAST(s AS BIGINT) AS score_micro
       |FROM (
       |  SELECT doc_id, labeled_lang, p_lang, s,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY s DESC, p_lang) AS rk
       |  FROM full_sc) r
       |WHERE rk = 1""".stripMargin

  // -------------------------------------- t22 segment language consistency

  /** A document whose segments agree on a language less than this
    * micro-fraction of the time is flagged mixed — the CCNet posture
    * (paragraph-level lang-ID; a page whose paragraphs disagree is
    * code-switched, boilerplate-stitched, or mislabeled and most
    * curation recipes route it out or to per-segment handling). 0.8 on
    * the fixture; per-corpus calibration — the SCREEN is the contract. */
  private[graft] val SegMixTau = 800000L

  /** t22: SEGMENT-granular language consistency — the CCNet device d14
    * opened the granularity for: t2/t2b classify the whole document, so
    * a half-English-half-Chinese page averages into whichever wins; real
    * pipelines run lang-ID per PARAGRAPH and treat disagreement itself
    * as signal (Wenzek et al. 2020 score paragraphs separately; mC4
    * drops pages failing line-level lang checks). Each doc is split into
    * d14's content-defined segments, each segment classified by t2b's
    * PERSISTED trained profile (zero new training — the s9-reuses-s2
    * discipline), and the doc rolls up: `n_segments` (segments carrying
    * ≥ 1 profile-trigram of evidence), `majority_lang` (most segment
    * votes, ties to the ascending code), `n_majority`, `mix_micro` =
    * n_majority·10⁶ div n_segments, and the `lang_mixed` screen at
    * [[SegMixTau]]. Evidence-free docs (no scored segment) report
    * majority '??' and mix_micro 10⁶ — vacuously consistent, never
    * flagged (the screen flags measured disagreement, not absence of
    * evidence).
    *
    * Scale shape: t2b's kernel per segment — each doc's segment array
    * is scored in place by [[graft.functions.langProfileScores]] and
    * kept where `n_hits > 0` (at least one of the segment's trigram
    * occurrences is a profile gram), then exploded, so the first
    * exchange already carries (doc_id, lang) vote partials; the only
    * windows run per doc over ≤ langs vote rows. Exchanges carry
    * id-width rows at any corpus size. */
  def t22SegmentLangmix(s: SparkSession, dir: String): DataFrame =
    segmentLangMixOf(Tables.documents(s, dir), langProfileRows(s, dir))

  /** The t22 kernel over any (doc_id, text) relation and any trained
    * (lang, gram, weight) profile — t22 binds the corpus profile; the
    * spec drives planted segments through a hand-built profile. */
  private[graft] def segmentLangMixOf(docs: DataFrame,
      profile: Seq[(String, String, Long)]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val best = bestLangStruct(profileLangs(profile), $"sc")
    // scored and filtered inside the segment array: a Filter over the
    // scoring projection would be pushed below it and run the kernel twice
    val scored = filter(
      transform(DedupOps.segmentsOf($"text"),
        seg => graft.functions.langProfileScores(seg, profile)),
      sc => sc("n_hits") > 0)
    val votes = docs
      .select($"doc_id", explode(scored).as("sc"))
      .select($"doc_id", best.getField("c").as("seg_lang"))
      .groupBy($"doc_id", $"seg_lang").agg(count(lit(1)).as("n"))
    val byDoc = Window.partitionBy($"doc_id")
    val top = votes
      .withColumn("tot", sum($"n").over(byDoc))
      .withColumn("rk", row_number().over(byDoc.orderBy($"n".desc, $"seg_lang")))
      .where($"rk" === 1)
    docs.select($"doc_id")
      .join(top.select($"doc_id", $"seg_lang", $"n", $"tot"), Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"tot", lit(0L)).as("n_segments"),
        coalesce($"seg_lang", lit("??")).as("majority_lang"),
        coalesce($"n", lit(0L)).as("n_majority"),
        coalesce(expr("n * 1000000 div tot"), lit(1000000L)).as("mix_micro"),
        (coalesce(expr("n * 1000000 div tot"), lit(1000000L)) < SegMixTau)
          .as("lang_mixed"))
  }

  // t22's oracle: the SHARED segment CTEs (DedupOps — d14's spelling)
  // + the SHARED profile CTEs (t2b's spelling), dense (segment × langs)
  // scores so tie-breaks see every language on both engines, then the
  // vote/majority rollup.
  private lazy val t22Sql =
    s"WITH ${DedupOps.segmentCtesSql},\n$profileCtesSql,\n" +
    s"""langs AS (SELECT DISTINCT p_lang FROM prof),
       |sg AS (
       |  SELECT doc_id, seg_id, unnest(${charTrigramsSqlOf("s")}) AS g
       |  FROM segs),
       |sc AS (
       |  SELECT s.doc_id, s.seg_id, p.p_lang, CAST(SUM(p.w) AS BIGINT) AS sw
       |  FROM sg s JOIN prof p ON s.g = p.g
       |  GROUP BY 1, 2, 3),
       |segd AS (SELECT DISTINCT doc_id, seg_id FROM sc),
       |dense AS (
       |  SELECT sd.doc_id, sd.seg_id, l.p_lang, COALESCE(sc.sw, 0) AS sw
       |  FROM segd sd CROSS JOIN langs l
       |  LEFT JOIN sc ON sc.doc_id = sd.doc_id AND sc.seg_id = sd.seg_id
       |    AND sc.p_lang = l.p_lang),
       |bestl AS (
       |  SELECT doc_id, seg_id, p_lang AS seg_lang FROM (
       |    SELECT doc_id, seg_id, p_lang,
       |      row_number() OVER (PARTITION BY doc_id, seg_id
       |        ORDER BY sw DESC, p_lang) AS rk
       |    FROM dense) r
       |  WHERE rk = 1),
       |votes AS (
       |  SELECT doc_id, seg_lang, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM bestl GROUP BY 1, 2),
       |roll AS (
       |  SELECT doc_id, seg_lang, n,
       |    CAST(SUM(n) OVER (PARTITION BY doc_id) AS BIGINT) AS tot,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY n DESC, seg_lang) AS rk
       |  FROM votes)
       |SELECT d.doc_id,
       |  COALESCE(r.tot, 0) AS n_segments,
       |  COALESCE(r.seg_lang, '??') AS majority_lang,
       |  COALESCE(r.n, 0) AS n_majority,
       |  COALESCE(r.n * 1000000 // r.tot, 1000000) AS mix_micro,
       |  COALESCE(r.n * 1000000 // r.tot, 1000000) < $SegMixTau AS lang_mixed
       |FROM documents d
       |LEFT JOIN (SELECT * FROM roll WHERE rk = 1) r ON d.doc_id = r.doc_id""".stripMargin

  // ----------------------------------------------------- t3 quality score

  /** t3's rule battery as a reusable expression (score in [0,4]) — the
    * e1 pipeline composes it inline with the other narrow signals so
    * everything rides one scan. */
  private[operators] def qualityScoreExpr(text: Column): Column = {
    val w = words(text)
    val nWords = size(w)
    val stopRatio = markerHits(w, langMarkers.head._2).cast("double") / nWords
    val ttr = size(array_distinct(w)).cast("double") / nWords
    val meanLen = (length(text) - nWords + 1).cast("double") / nWords
    when(nWords.between(10, 1000), 1).otherwise(0) +
      when(stopRatio > 0.05, 1).otherwise(0) +
      when(ttr > 0.2, 1).otherwise(0) +
      when(meanLen.between(3.0, 10.0), 1).otherwise(0)
  }

  /** The pipeline's keep bit — ONE home for the ≥ 3 cutoff (t3 and e1
    * both read it; tuning it cannot desynchronize them). */
  private[graft] def qualityKeepExpr(text: Column): Column =
    qualityScoreExpr(text) >= 3

  /** t3: document quality scoring — the C4/Gopher-style rule battery
    * re-expressed as one codegen'd expression: length band, stopword
    * ratio, repetition (type/token) ratio, mean word length band. Score in
    * [0,4]; `keep` at >= 3 is the pipeline's filter bit. At 100 TB this is
    * the first pass over raw text, so it must stay a narrow map — it does:
    * no shuffle, filter bit computed inline with the scan. */
  def t3QualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(
      $"doc_id", qualityScoreExpr($"text").as("quality"),
      qualityKeepExpr($"text").as("keep"))
  }

  private[graft] val t3Sql = {
    val en = langMarkers.head._2.map(x => s"'$x'").mkString("[", ", ", "]")
    """WITH f AS (
      |  SELECT doc_id,
      |    len(string_split(text, ' ')) AS n_words,
      |    CAST(len(list_filter(string_split(text, ' '),
      |         x -> list_contains(MARKERS, x))) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS stop_ratio,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS ttr,
      |    CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
      |      / len(string_split(text, ' ')) AS mean_len
      |  FROM documents)
      |SELECT doc_id,
      |  CAST((CASE WHEN n_words BETWEEN 10 AND 1000 THEN 1 ELSE 0 END)
      |     + (CASE WHEN stop_ratio > 0.05 THEN 1 ELSE 0 END)
      |     + (CASE WHEN ttr > 0.2 THEN 1 ELSE 0 END)
      |     + (CASE WHEN mean_len BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END) AS INT)
      |    AS quality,
      |  ((CASE WHEN n_words BETWEEN 10 AND 1000 THEN 1 ELSE 0 END)
      |     + (CASE WHEN stop_ratio > 0.05 THEN 1 ELSE 0 END)
      |     + (CASE WHEN ttr > 0.2 THEN 1 ELSE 0 END)
      |     + (CASE WHEN mean_len BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END)) >= 3
      |    AS keep
      |FROM f""".stripMargin.replace("MARKERS", en)
  }

  // ---------------------------------------------------- t4 token counting

  /** BPE-ish pre-tokenizer regex: letter runs, digit runs, single other
    * non-space — the classic GPT-2-style pre-split shape, identical
    * semantics in Java regex and RE2 for this simple class. */
  private val TokenRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  /** t4: token counting + corpus totals — per-source whitespace-token and
    * regex-token counts with a chars total. Per-row map then a tiny
    * aggregate keyed by `source` (cardinality O(sources), so the shuffle
    * carries one partial row per source per partition — map-side combine
    * makes this scale-free). */
  def t4TokenCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"source",
        size(words($"text")).as("ws"),
        size(regexp_extract_all($"text", lit(TokenRe), lit(0))).as("re"),
        length($"text").as("ch"))
      .groupBy($"source")
      .agg(
        sum($"ws").as("ws_tokens"),
        sum($"re").as("re_tokens"),
        sum($"ch").as("total_chars"),
        count(lit(1)).as("docs"))
  }

  // CAST(SUM(..) AS BIGINT): DuckDB's SUM over integers returns HUGEINT
  // (int128), which the driver materializes as float64 — dtype-mismatching
  // Spark's bigint even when values are equal (r2 red row).
  private val t4Sql =
    s"""SELECT source,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
       |  CAST(SUM(len(regexp_extract_all(text, '$TokenRe'))) AS BIGINT) AS re_tokens,
       |  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       |  COUNT(*) AS docs
       |FROM documents GROUP BY 1""".stripMargin

  // ------------------------------------------- t4b BPE-vocab token count

  /** t4b's subword vocabulary: common English character merges (the shape
    * a small trained BPE merge table converges to — Sennrich et al. 2016)
    * plus a few frequent suffix/prefix pieces. Deliberately merge-only
    * (no whole corpus words), so real documents SPLIT: the greedy path is
    * exercised, and t4b's counts differ measurably from t4's pre-token
    * counts (a vocab of whole frequent words would make t4b ≈ t4.re and
    * teach nothing). A production caller passes their tokenizer's own
    * merge list here; 2..8 lowercase ASCII letters per piece is the
    * [[graft.functions.bpeTokenCount]] contract. */
  private[graft] val BpeVocab: Seq[String] = Seq(
    "th", "the", "in", "ing", "er", "es", "est", "ed", "en", "an", "and",
    "at", "ar", "al", "or", "on", "re", "is", "it", "le", "st", "to",
    "of", "he", "se", "te", "ow", "ue", "lo", "ro", "ta", "ab", "me",
    "ba", "li", "so", "wi", "da", "co", "jo", "sm", "cu", "qu", "bi",
    "gr", "fi", "ve", "pa", "ha", "sc", "sl", "fa", "str", "ion", "tion",
    "ent", "ter", "ers", "ate", "ess", "ure", "ive", "ble", "val", "ea",
    "om", "um", "un", "ut", "up", "us", "ir", "ig", "id", "ic", "ad",
    "ag", "am", "ap", "as", "ay", "ey", "ol", "od", "og", "ot", "ob",
    "ort", "ast", "ack", "ell", "ill", "ight", "ment", "ness", "able",
    "ous", "ful", "win", "dow", "ound")

  /** t4b's pre-tokenizer over LOWERCASED text (t4's [[TokenRe]], lowered
    * alphabet): letter runs, digit runs, single other non-space. */
  private[graft] val BpeTokenRe = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** t4b: tokenizer-accurate token counting — per-source totals under a
    * REAL greedy subword segmentation (the BPE-inference scan), next to
    * the pre-token count so the subword expansion factor is visible.
    * t4's regex heuristic approximates token budgets; any pipeline that
    * pays per real-tokenizer token (sequence packing, mix math, training
    * cost) needs the vocab-driven count — p3's mix plan can consume
    * either (see [[SamplingOps.p3MixPlan]]).
    *
    * Shape is t4's exactly: a narrow per-row map (one codegen'd scan per
    * document, vocab shipped once as a sorted packed `long[]` reference
    * object) into an O(sources) aggregate — map-side combine makes the
    * shuffle scale-free. The DuckDB oracle computes the SAME greedy
    * segmentation via a recursive CTE over the corpus' DISTINCT
    * pre-tokens (per-word-type recursion, joined back to occurrences) —
    * per-position longest-prefix match is identical because vocab pieces
    * are pure lowercase letter strings: a piece can never cross a letter
    * run's boundary (the run is maximal), so full-string scanning
    * (engine) ≡ per-pre-token scanning (oracle), with spaces skipped on
    * the engine side and dropped by the oracle's pre-tokenizer. All
    * hashed outputs are exact BIGINTs. */
  def t4bBpeTokenCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"source",
        graft.functions.bpeTokenCount($"text", BpeVocab).as("bpe"),
        size(regexp_extract_all(lower($"text"), lit(BpeTokenRe), lit(0))).as("pre"))
      .groupBy($"source")
      .agg(
        sum($"bpe").as("bpe_tokens"),
        sum($"pre").as("pre_tokens"),
        count(lit(1)).as("docs"))
  }

  /** t4b's greedy-segmentation count oracle over an arbitrary vocab —
    * factored so t4c replays the SAME recursive-CTE machinery under its
    * LEARNED vocabulary (with `extra` appending its vocab-size column). */
  private def bpeCountSqlFor(vocab: Seq[String], extra: String = ""): String = {
    val values = vocab.distinct.sorted
      .map(p => s"('$p', ${p.length})").mkString(", ")
    s"""WITH RECURSIVE vocab(piece, plen) AS (
       |  SELECT * FROM (VALUES $values) AS v(piece, plen)),
       |pre AS (
       |  SELECT source,
       |    unnest(regexp_extract_all(lower(text), '$BpeTokenRe')) AS w
       |  FROM documents),
       |words AS (SELECT DISTINCT w FROM pre WHERE regexp_matches(w, '^[a-z]')),
       |seg(w, pos, cnt) AS (
       |  SELECT w, CAST(1 AS BIGINT), CAST(0 AS BIGINT) FROM words
       |  UNION ALL
       |  SELECT s.w,
       |    (s.pos + COALESCE((SELECT MAX(v.plen) FROM vocab v
       |       WHERE (substr(s.w, CAST(s.pos AS INTEGER), v.plen) = v.piece)), 1)),
       |    (s.cnt + 1)
       |  FROM seg s WHERE (s.pos <= length(s.w))),
       |wcnt AS (SELECT w, MAX(cnt) AS bpe FROM seg GROUP BY w),
       |tok AS (
       |  SELECT p.source,
       |    (CASE WHEN regexp_matches(p.w, '^[a-z]')
       |          THEN c.bpe ELSE length(p.w) END) AS t
       |  FROM pre p LEFT JOIN wcnt c ON (p.w = c.w)),
       |agg AS (SELECT source, SUM(t) AS b, COUNT(*) AS p FROM tok GROUP BY 1)
       |SELECT d.source,
       |  CAST(COALESCE(MAX(a.b), 0) AS BIGINT) AS bpe_tokens,
       |  CAST(COALESCE(MAX(a.p), 0) AS BIGINT) AS pre_tokens,
       |  COUNT(*) AS docs$extra
       |FROM documents d LEFT JOIN agg a ON (d.source = a.source)
       |GROUP BY 1""".stripMargin
  }

  private val t4bSql = bpeCountSqlFor(BpeVocab)

  // ---------------------------------------------- t4c BPE vocab training

  /** Merge budget for [[t4cBpeVocabTrain]] — real tokenizers run 10⁴–10⁵
    * merges; 200 keeps the oracle's piece table and the fixture train
    * time honest while exercising the full loop. */
  private[graft] val BpeMerges = 200
  /** Longest learnable piece — [[graft.functions.bpeTokenCount]]'s
    * packed-long contract (≤ 8 ASCII letters). Pairs whose merge would
    * exceed it are never counted as candidates. */
  private[graft] val BpeMaxPiece = 8
  /** Above this many distinct word types the trainer switches from the
    * driver loop (Sennrich's own shape: the merge loop runs over the
    * collected word-type dictionary) to [[bpeTrainMergesDistributed]] —
    * the [[SimilarityOps.DriverTrainCap]] dispatch pattern. */
  private[graft] val DriverBpeTypeCap = 65536
  private[graft] val BpeTrainVersion = 1

  /** One left-to-right pass replacing adjacent (a, b) with the merged
    * symbol — the kernel BOTH trainers apply, so they cannot drift. */
  private def applyMerge(ss: Array[String], a: String, b: String,
      ab: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < ss.length) {
      if (i + 1 < ss.length && ss(i) == a && ss(i + 1) == b) { out += ab; i += 2 }
      else { out += ss(i); i += 1 }
    }
    out.result()
  }

  /** The Sennrich et al. 2016 merge loop over a word-type dictionary:
    * start from single characters; each round counts adjacent symbol
    * pairs weighted by word frequency (pairs whose merge would exceed
    * [[BpeMaxPiece]] letters are skipped), merges the most frequent
    * (ties: lexicographically smallest pair — deterministic), and
    * records the merged piece. Returns the distinct learned pieces in
    * merge order; stops early when no mergeable pair remains. */
  private[graft] def bpeTrainMerges(wordCounts: Seq[(String, Long)],
      merges: Int): Seq[String] = {
    var words = wordCounts.map { case (w, c) => (w.map(_.toString).toArray, c) }
    val pieces = Seq.newBuilder[String]
    var round = 0
    var done = false
    while (round < merges && !done) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (ss, c) =>
        var i = 0
        while (i < ss.length - 1) {
          if (ss(i).length + ss(i + 1).length <= BpeMaxPiece) {
            val k = (ss(i), ss(i + 1))
            pc(k) = pc.getOrElse(k, 0L) + c
          }
          i += 1
        }
      }
      if (pc.isEmpty) done = true
      else {
        val ((a, b), _) = pc.minBy { case ((x, y), c) => (-c, x, y) }
        pieces += (a + b)
        words = words.map { case (ss, c) => (applyMerge(ss, a, b, a + b), c) }
        round += 1
      }
    }
    pieces.result().distinct
  }

  /** The coded scale path past [[DriverBpeTypeCap]]: the same loop with
    * the word-type dictionary left DISTRIBUTED — each round is one
    * vocab-bounded map-side-combined pair aggregate (the shuffle carries
    * (pair, count) partials, never words), a 1-row collect of the
    * winning pair, and a narrow merge-apply pass sharing [[applyMerge]];
    * lineage is truncated every 16 rounds (the q20b localCheckpoint
    * discipline). O(merges) sequential Spark jobs by construction —
    * which is why the fixture path collects the dictionary instead; the
    * spec proves the two trainers identical on the same corpus. */
  private[graft] def bpeTrainMergesDistributed(wordCounts: DataFrame,
      merges: Int): Seq[String] = {
    val s = wordCounts.sparkSession
    import s.implicits._
    var words = wordCounts.as[(String, Long)]
      .map { case (w, c) => (w.map(_.toString).toSeq, c) }
      .toDF("ss", "c").as[(Seq[String], Long)]
    val pieces = Seq.newBuilder[String]
    var round = 0
    var done = false
    while (round < merges && !done) {
      val n = size($"ss") - lit(1)
      val best = words.toDF("ss", "c")
        .select($"c", explode(zip_with(
          slice($"ss", lit(1), n), slice($"ss", lit(2), n),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .where(length($"p.a") + length($"p.b") <= BpeMaxPiece)
        .groupBy($"p.a".as("a"), $"p.b".as("b"))
        .agg(sum($"c").as("cnt"))
        .orderBy($"cnt".desc, $"a", $"b")
        .limit(1)
        .as[(String, String, Long)].collect()
      if (best.isEmpty) done = true
      else {
        val (a, b, _) = best(0)
        pieces += (a + b)
        words = words.map { case (ss, c) =>
          (applyMerge(ss.toArray, a, b, a + b).toSeq, c) }
          .toDF("ss", "c").as[(Seq[String], Long)]
        round += 1
        if (round % 16 == 0)
          words = words.localCheckpoint(true).as[(Seq[String], Long)]
      }
    }
    pieces.result().distinct
  }

  private[graft] def t4cVocabPath(s: SparkSession, dir: String): String =
    Layouts.artifactPath(s,
      s"graft_t4c_vocab_v${BpeTrainVersion}_n${BpeMerges}", dir, "documents")

  private val t4cMemo = new graft.sources.FingerprintMemo[Seq[String]]

  /** The LEARNED vocabulary for `dir`'s corpus — trained once per corpus
    * fingerprint (driver loop under [[DriverBpeTypeCap]] word types,
    * distributed loop past it), persisted as a (rank, piece) table, and
    * memoized. Content is deterministic per corpus (exact counts,
    * lexicographic tie-break), so load ≡ retrain. */
  private[graft] def learnedBpeVocab(s: SparkSession, dir: String): Seq[String] = {
    val path = t4cVocabPath(s, dir)
    t4cMemo.getOrBuild(s, dir, "", path) {
        import s.implicits._
        Layouts.publish(path) {
          val wc = Tables.documents(s, dir)
            .select(explode(regexp_extract_all(
              lower($"text"), lit(BpeTokenRe), lit(0))).as("w"))
            .where($"w".rlike("^[a-z]"))
            .groupBy($"w").agg(count(lit(1)).as("c"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val pieces = try {
            if (wc.count() <= DriverBpeTypeCap)
              bpeTrainMerges(wc.as[(String, Long)].collect().toSeq, BpeMerges)
            else bpeTrainMergesDistributed(wc, BpeMerges)
          } finally wc.unpersist()
          pieces.zipWithIndex.map { case (p, i) => (i, p) }
            .toDF("rank", "piece").repartition(1).write
        }
        val rows = s.read.schema("rank INT, piece STRING").parquet(path)
          .orderBy($"rank").as[(Int, String)].collect()
        require(rows.nonEmpty,
          s"t4c: corpus at $dir learned an empty merge vocabulary")
        rows.map(_._2).toSeq
      }
  }

  /** t4c: BPE vocabulary TRAINING — the half t4b consumes: the Sennrich
    * merge loop learns the corpus' own subword vocabulary, persists it
    * fingerprint-named, and the registered output scores the corpus
    * under it with t4b's exact counter (per-source totals + the learned
    * vocab size). This closes the tokenizer story: t4 approximates
    * budgets with a regex, t4b counts exactly under a GIVEN vocab, t4c
    * learns the vocab itself.
    *
    * Oracle: the merge list is deterministic per corpus, so the learned
    * pieces are driver-known constants once training resolves — the
    * [[graft.sources.TrainedOracle]] splice (s9's device) feeds them to
    * t4b's recursive-CTE greedy-count SQL. The TRAINING itself is
    * sequential by nature (each merge depends on the last) and is proven
    * by spec instead: a hand-traced planted corpus, driver ≡ distributed
    * trainer equality, and the persisted-vocab warm path. */
  def t4cBpeVocabTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vocab = learnedBpeVocab(s, dir)
    graft.sources.TrainedOracle.publish("t4c_bpe_vocab_train",
      bpeCountSqlFor(vocab, s",\n  CAST(${vocab.size} AS INT) AS vocab_pieces"))
    Tables.documents(s, dir)
      .select($"source",
        graft.functions.bpeTokenCount($"text", vocab).as("bpe"),
        size(regexp_extract_all(lower($"text"), lit(BpeTokenRe), lit(0))).as("pre"))
      .groupBy($"source")
      .agg(
        sum($"bpe").as("bpe_tokens"),
        sum($"pre").as("pre_tokens"),
        count(lit(1)).as("docs"))
      .withColumn("vocab_pieces", lit(vocab.size))
  }

  /** Loud out-of-order sentinel (the s9 device). */
  private val t4cFallback =
    """SELECT CAST(NULL AS VARCHAR) AS source,
      |  CAST(NULL AS BIGINT) AS bpe_tokens, CAST(NULL AS BIGINT) AS pre_tokens,
      |  CAST(NULL AS BIGINT) AS docs, CAST(NULL AS INT) AS vocab_pieces
      |WHERE FALSE""".stripMargin

  // ---------------------------------------------- t4d token-id emission

  /** t4d: token-ID EMISSION — the artifact a trainer actually reads.
    * t4/t4b/t4c count tokens (budget math); t4d emits the id SEQUENCE
    * under [[BpeVocab]] via [[graft.functions.bpeTokenIds]] — the same
    * greedy longest-prefix scan as t4b's counter, one codegen'd narrow
    * map, nothing shuffles. The id space is deterministic (piece rank in
    * the packed-sorted vocab ≡ (length, lexicographic); then single
    * letters; then raw code points) and decoding is lossless up to
    * spaces — TextOpsSpec re-decodes the ids back to the pre-token
    * stream.
    *
    * The registered output carries the sequence as (count, md5 of the
    * comma-joined ids) rather than the raw array — the m4/m12 digest
    * contract: the driver's hash compare cannot sort array columns, and
    * the digest pins every id and its order anyway. The DuckDB oracle
    * re-derives the ids INDEPENDENTLY (t4b's recursive-CTE segmentation
    * extended to accumulate id lists) and digests identically. */
  def t4dTokenIds(s: SparkSession, dir: String): DataFrame =
    withTokenIdCols(Tables.documents(s, dir), col("text"))
      .select(col("doc_id"), col("n_ids"), col("ids_sig"))

  /** The t4d kernel over any relation: appends `n_ids` (int) and
    * `ids_sig` (md5 of the comma-joined id sequence) computed from
    * `text` — shared by t4d, e2, and e4 so the engines cannot drift on
    * the digest spelling. */
  private[graft] def withTokenIdCols(docs: DataFrame, text: Column): DataFrame =
    docs.withColumn("ids", graft.functions.bpeTokenIds(text, BpeVocab))
      .withColumn("n_ids", size(col("ids")))
      .withColumn("ids_sig",
        md5(array_join(col("ids").cast("array<string>"), ",")))
      .drop("ids")

  /** The oracle's token-id CTE chain over a caller-defined CTE `docCte`
    * = (doc_id, text): t4b's per-word-type recursive segmentation
    * extended to accumulate the id list (ids ranked by (piece length,
    * piece) — provably the packed-long order the engine's binarySearch
    * index realizes, since all bytes are 'a'..'z'), non-letter
    * pre-tokens mapped per code point, per-doc concatenation in
    * pre-token order. Ends in CTE `ids$sfx` = (doc_id, n_ids, ids_str,
    * ids_sig); instantiate with a unique `sfx` per use. Caller must open
    * with WITH RECURSIVE. */
  private[operators] def bpeIdsCtesSql(docCte: String, sfx: String): String = {
    val pieces = BpeVocab.distinct.sortBy(p => (p.length, p))
    val v = pieces.size
    val values = pieces.zipWithIndex
      .map { case (p, i) => s"('$p', ${p.length}, $i)" }.mkString(", ")
    s"""vocab$sfx(piece, plen, id) AS (
       |  SELECT * FROM (VALUES $values) AS v(piece, plen, id)),
       |pre$sfx AS (
       |  SELECT doc_id, unnest(ws) AS w,
       |    unnest(generate_series(1, len(ws))) AS i
       |  FROM (SELECT doc_id,
       |          -- ASCII-ONLY case fold (translate, not lower): the
       |          -- engine's scan lowers 'A'..'Z' alone, and t4d ids
       |          -- ENCODE code points — a full-Unicode lower() would
       |          -- emit V+26+cp of the folded char (or even change the
       |          -- code-point COUNT: 'İ' folds to two) and desync the
       |          -- engines on any case-folding non-ASCII character.
       |          -- t4b's count oracle tolerates lower() because 1:1
       |          -- folds are count-invariant; the id space is not.
       |          regexp_extract_all(
       |            translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
       |                            'abcdefghijklmnopqrstuvwxyz'),
       |            '$BpeTokenRe') AS ws
       |        FROM $docCte)),
       |words$sfx AS (
       |  SELECT DISTINCT w FROM pre$sfx WHERE regexp_matches(w, '^[a-z]')),
       |seg$sfx(w, pos, ids) AS (
       |  SELECT w, CAST(1 AS BIGINT), CAST([] AS INTEGER[]) FROM words$sfx
       |  UNION ALL
       |  SELECT s.w,
       |    (s.pos + COALESCE((SELECT MAX(v.plen) FROM vocab$sfx v
       |       WHERE (substr(s.w, CAST(s.pos AS INTEGER), v.plen) = v.piece)), 1)),
       |    list_append(s.ids, CAST(COALESCE(
       |      (SELECT v.id FROM vocab$sfx v
       |       WHERE (substr(s.w, CAST(s.pos AS INTEGER), v.plen) = v.piece)
       |       ORDER BY v.plen DESC LIMIT 1),
       |      $v + unicode(substr(s.w, CAST(s.pos AS INTEGER), 1))
       |        - unicode('a')) AS INTEGER))
       |  FROM seg$sfx s WHERE (s.pos <= length(s.w))),
       |wids$sfx AS (
       |  SELECT w, ids FROM seg$sfx WHERE pos = length(w) + 1),
       |tokids$sfx AS (
       |  SELECT p.doc_id, p.i,
       |    CASE WHEN regexp_matches(p.w, '^[a-z]') THEN c.ids
       |         ELSE [CAST($v + 26 + unicode(p.w[j]) AS INTEGER)
       |               for j in generate_series(1, length(p.w))] END AS ids
       |  FROM pre$sfx p LEFT JOIN wids$sfx c ON (p.w = c.w)),
       |docids$sfx AS (
       |  SELECT doc_id,
       |    COALESCE(string_agg(array_to_string(ids, ','), ',' ORDER BY i), '')
       |      AS ids_str,
       |    CAST(COALESCE(SUM(len(ids)), 0) AS INT) AS n_ids
       |  FROM tokids$sfx GROUP BY doc_id),
       |ids$sfx AS (
       |  SELECT d.doc_id,
       |    CAST(COALESCE(di.n_ids, 0) AS INT) AS n_ids,
       |    COALESCE(di.ids_str, '') AS ids_str,
       |    md5(COALESCE(di.ids_str, '')) AS ids_sig
       |  FROM $docCte d LEFT JOIN docids$sfx di ON (d.doc_id = di.doc_id))""".stripMargin
  }

  private val t4dSql =
    s"WITH RECURSIVE docs4d AS (SELECT doc_id, text FROM documents),\n" +
      bpeIdsCtesSql("docs4d", "4d") +
      "\nSELECT doc_id, n_ids, ids_sig FROM ids4d"

  // --------------------------------------------------- t5 fingerprinting

  /** t5: canonical document fingerprint — md5 over the sorted distinct
    * word set (word-order- and repetition-invariant, the classic
    * bag-of-words canonicalization), plus the fingerprint-group size so
    * canonical-duplicate clusters are visible. One shuffle, keyed on the
    * 16-byte digest — documents ride through it already reduced to
    * (doc_id, digest). */
  /** Canonical bag-of-words fingerprint — t5's grouping key. q19's
    * roster query groups on the SAME key, so both read this one
    * definition (the spec-side recomputations stay deliberately inline
    * as independent checks). */
  private[operators] def canonicalFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(split(text, " ")))))

  private[operators] val canonicalFingerprintSql: String =
    "md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))"

  def t5Fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fp = canonicalFingerprint($"text")
    Tables.documents(s, dir)
      .select($"doc_id", fp.as("fingerprint"))
      .withColumn("group_sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"fingerprint")))
  }

  private val t5Sql =
    s"""WITH fp AS (
       |  SELECT doc_id, $canonicalFingerprintSql AS fingerprint
       |  FROM documents)
       |SELECT doc_id, fingerprint,
       |  COUNT(*) OVER (PARTITION BY fingerprint) AS group_sz
       |FROM fp""".stripMargin

  // ------------------------------------------------- t6 deterministic split

  /** t6's split assignment for one document id — reused by the e1
    * pipeline so both land each doc in the same split. */
  private[graft] def splitExpr(docId: Column): Column = {
    val bucket = pmod(graft.sources.Hash60.col60(docId.cast("string")), lit(100))
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
  }

  /** DuckDB twin of [[splitExpr]] over a bucket expression — t6's oracle
    * and e1's share the one CASE. */
  private[operators] def splitSqlCase(b: String): String =
    s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val' ELSE 'test' END"

  /** t6: deterministic train/val/test assignment — the split every training
    * pipeline needs, keyed on a content-independent hash of doc_id so it is
    * (a) reproducible across runs/engines/cluster sizes, (b) stable under
    * corpus growth (adding documents never reassigns existing ones — the
    * property a random() split lacks), (c) a narrow map: no shuffle for the
    * assignment itself, one tiny aggregate for the audit counts. 80/10/10
    * by hash bucket; md5-based so the oracle reproduces it bit-for-bit. */
  def t6HashSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"source", splitExpr($"doc_id").as("split"))
      .groupBy($"source", $"split")
      .agg(count(lit(1)).as("docs"))
  }

  private val t6Sql =
    s"""SELECT source,
       |  ${splitSqlCase("b")} AS split,
       |  COUNT(*) AS docs
       |FROM (SELECT source,
       |        ${graft.sources.Hash60.sql60("CAST(doc_id AS VARCHAR)")} % 100 AS b
       |      FROM documents)
       |GROUP BY 1, 2""".stripMargin

  // -------------------------------------------------- t7 repetition ratios

  /** Word n-grams as strings — the zip_with-over-shifted-slices shape of
    * [[DedupOps.shingles]] (a transform lambda slicing the token array
    * re-evaluates it per element — the CollapseProject re-eval trap);
    * docs shorter than n fall back to one whole-text gram, giving
    * ratio 0. */
  private def grams(w: Column, n: Int, text: Column): Column =
    if (n == 1) w
    else {
      val m = size(w) - lit(n - 1)
      val g = (2 to n).foldLeft(slice(w, lit(1), m)) { (acc, j) =>
        zip_with(acc, slice(w, lit(j), m), (p, c) => concat(p, lit(" "), c))
      }
      when(size(w) >= n, g).otherwise(array(text))
    }

  /** rep_n ratio of `text` as a reusable expression (e1 composes the
    * n=2 filter inline with the other narrow signals). */
  private[operators] def repExpr(text: Column, n: Int): Column = {
    val g = grams(words(text), n, text)
    round(lit(1.0) - size(array_distinct(g)).cast("double") / size(g), 6)
  }

  /** The boilerplate flag — ONE home for the rep2 > 0.2 cutoff (t7 and
    * e1 both read it). */
  private[graft] def repetitiveExpr(text: Column): Column =
    repExpr(text, 2) > 0.2

  /** t7: repetition ratios — the Gopher-style duplicate-n-gram filter.
    * rep_n = fraction of n-gram OCCURRENCES that are repeats
    * (1 − distinct/total) for n = 1..3; `repetitive` flags rep2 > 0.2,
    * the templated/boilerplate band. Pure narrow map (per-row array
    * expressions, no shuffle) — this runs in the same first pass over raw
    * text as t3's rule battery. */
  def t7Repetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(
      $"doc_id",
      repExpr($"text", 1).as("rep1"), repExpr($"text", 2).as("rep2"),
      repExpr($"text", 3).as("rep3"),
      repetitiveExpr($"text").as("repetitive"))
  }

  private[graft] val t7Sql = {
    def g(n: Int): String =
      if (n == 1) "string_split(text, ' ')"
      else s"""CASE WHEN len(string_split(text, ' ')) >= $n
              | THEN list_transform(generate_series(1, len(string_split(text, ' ')) - ${n - 1}),
              |   i -> array_to_string(string_split(text, ' ')[i : i + ${n - 1}], ' '))
              | ELSE [text] END""".stripMargin.replaceAll("\n", "")
    def rep(n: Int): String =
      s"round(1.0 - CAST(len(list_distinct(${g(n)})) AS DOUBLE) / len(${g(n)}), 6)"
    s"""SELECT doc_id,
       |  ${rep(1)} AS rep1,
       |  ${rep(2)} AS rep2,
       |  ${rep(3)} AS rep3,
       |  ${rep(2)} > 0.2 AS repetitive
       |FROM documents""".stripMargin
  }

  // ------------------------------------------------ t8 bigram LM scoring

  /** `fluent` threshold: ~90th percentile of the corpus distribution —
    * the self-reinforcing high tail is near-duplicate boilerplate whose
    * own bigrams inflate the counts, exactly what an LM-likelihood
    * filter surfaces. */
  private val FluentMin = 0.036

  /** Salted 60-bit md5 key ([[graft.sources.Hash60]]) — the join/grouping
    * key for n-gram relations. Shuffles carry 8-byte hashes instead of
    * bigram strings; a ~1e-10 collision merges the same counts in BOTH
    * engines (the oracle hashes identically), so results stay exact. */
  private def h60(c: Column): Column = graft.sources.Hash60.col60(c)

  /** `(ch, bh)` struct pairs of a document's bigrams — context hash and
    * bigram hash per position. Built with zip_with over two shifted
    * slices — the CollapseProject-safe shape (a transform lambda
    * re-indexing the token array can go quadratic per document). */
  private def bigramPairs(text: Column): Column = {
    val w = words(text)
    val n = size(w) - lit(1) // bigram count; slice(_, 1, 0) = [] on 1-token docs
    zip_with(slice(w, lit(1), n), slice(w, lit(2), n),
      (a, b) => struct(h60(a).as("ch"), h60(concat_ws(" ", a, b)).as("bh")))
  }

  /** Trainer version for the persisted bigram model — bump on any change
    * to tokenization, hashing, or the probability quantization, so a
    * new build never serves a stale-formula model. */
  private[graft] val LmVersion = 1

  /** Path of the persisted bigram model for `dir`'s documents corpus —
    * fingerprint-named, so a regenerated corpus rolls the name and can
    * never be scored against a stale model (the
    * [[SimilarityOps.centroidsPath]] discipline applied to the LM). */
  private[graft] def lmModelPath(s: SparkSession, dir: String): String =
    Layouts.artifactPath(s,
      s"graft_bigram_lm_v${LmVersion}", dir, "documents")

  /** The TRAINED bigram model `(ch, bh, pq)`: per distinct bigram, its
    * micro-unit conditional probability p(w2|w1) quantized in PURE
    * INTEGER arithmetic — pq = (c2 × 10⁶) div c1, where c2 is the
    * corpus count of the bigram hash and c1 of its context hash,
    * aggregated INDEPENDENTLY per hash (so even a 60-bit collision
    * merges counts exactly as the oracle's per-hash joins do). Trained
    * ONCE per corpus fingerprint and PUBLISHED atomically under target/;
    * every later process — and every later query in THIS process (t8,
    * t11, e3 all score against it) — loads the shipped table instead of
    * re-aggregating the corpus. This is the artifact a real curation
    * deployment trains on a schedule and ships to its scoring jobs;
    * before it, every bench pass re-trained an identical model
    * (~dominant cost of t8/t11 at 10× scale).
    *
    * Training shape: one explode over the corpus into (8-byte ch,
    * 8-byte bh) pairs, one count aggregation, one vocab-keyed window to
    * attach context totals — the model relation is vocab²-bounded,
    * far smaller than the corpus. */
  private[graft] def lmModel(s: SparkSession, dir: String): DataFrame =
    lmModelAt(s, lmModelPath(s, dir), Tables.documents(s, dir))

  /** The reference-slice model for [[t15RefLmScore]]: identical
    * training formula over ONLY the held-out slice (doc_id %
    * [[DecontMod]] == 0 — t10's convention), persisted under its own
    * fingerprint-named path. */
  private[graft] def refLmModel(s: SparkSession, dir: String): DataFrame =
    lmModelAt(s, refLmModelPath(s, dir),
      Tables.documents(s, dir).where(col("doc_id") % DecontMod === 0))

  private[graft] def refLmModelPath(s: SparkSession, dir: String): String =
    Layouts.artifactPath(s,
      s"graft_ref_bigram_lm_v${LmVersion}", dir, "documents")

  // `train` is BY-NAME: the corpus relation must not even be resolved on
  // the warm path (building it reads parquet footers — a Spark job the
  // zero-training-jobs contract forbids; the t8 persistence spec caught
  // exactly this)
  private def lmModelAt(s: SparkSession, path: String,
      train: => DataFrame): DataFrame = {
    import s.implicits._
    Layouts.publish(path) {
      import org.apache.spark.sql.expressions.Window
      val counts = train
        .select(explode(bigramPairs($"text")).as("p"))
        .groupBy($"p.ch".as("ch"), $"p.bh".as("bh"))
        .agg(count(lit(1)).as("m"))
      val model = counts
        .withColumn("c2", sum($"m").over(Window.partitionBy($"bh")))
        .withColumn("c1", sum($"m").over(Window.partitionBy($"ch")))
        .select($"ch", $"bh", expr("(c2 * 1000000L) div c1").as("pq"))
      model.repartition(4).write
    }
    // explicit schema: skips footer-inference, so a warm resolution is
    // zero Spark jobs (the model schema is fixed by construction)
    s.read.schema("ch LONG, bh LONG, pq LONG").parquet(path)
  }

  /** t8: bigram language-model scoring — the perplexity-style quality
    * filter training pipelines run (CCNet/KenLM shape, with the corpus
    * itself as the model). Scoring joins each doc's bigram occurrences
    * (map-side combined before the shuffle) to the persisted
    * [[lmModel]] on the 8-byte bigram hash; the score is the
    * occurrence-weighted mean probability.
    *
    * Numeric determinism: probabilities are micro-unit integers summed
    * exactly as BIGINTs, with ONE final IEEE division for the mean. No
    * round(), no decimal cast: `round(double, 6)` is NOT portable at the
    * boundary (Spark rounds the exact decimal expansion of the double,
    * DuckDB rounds in float — ~0.1% of a dense value population lands on
    * disagreeing sides; measured on this operator's first formulation),
    * while integer div and a single exact-rounded division are
    * bit-identical in both engines and order-insensitive at any
    * partition count.
    *
    * Scale: the exploded relation is O(total tokens) but every shuffled
    * row is (8-byte hash, count) — and the model side is vocab²-bounded,
    * far smaller than the corpus, so AQE broadcasts it when small. */
  def t8BigramLm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val occ = docs
      .select($"doc_id", explode(bigramPairs($"text")).as("p"))
      .groupBy($"doc_id", $"p.ch".as("ch"), $"p.bh".as("bh"))
      .agg(count(lit(1)).as("m"))
    val scored = occ.join(lmModel(s, dir), Seq("ch", "bh"))
      .groupBy($"doc_id")
      .agg(sum($"m").as("n_bigrams"),
        (sum($"m" * $"pq").cast("double") / (sum($"m") * lit(1000000L)))
          .as("avg_p"))
    docs.select($"doc_id")
      .join(scored, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        coalesce($"avg_p", lit(0.0)).as("avg_p"))
      .withColumn("fluent", $"avg_p" >= FluentMin)
  }

  private val t8Sql =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |occ AS (
       |  SELECT doc_id,
       |    ${graft.sources.Hash60.sql60("u.x.c")} AS ch,
       |    ${graft.sources.Hash60.sql60("u.x.s")} AS bh,
       |    count(*) AS m
       |  FROM toks, UNNEST(list_transform(generate_series(1, len(w) - 1),
       |    i -> {'c': w[i], 's': w[i] || ' ' || w[i+1]})) AS u(x)
       |  GROUP BY 1, 2, 3),
       |c2 AS (SELECT bh, CAST(SUM(m) AS BIGINT) AS c2 FROM occ GROUP BY 1),
       |c1 AS (SELECT ch, CAST(SUM(m) AS BIGINT) AS c1 FROM occ GROUP BY 1),
       |scored AS (
       |  SELECT o.doc_id,
       |    CAST(SUM(o.m) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(o.m * ((c2.c2 * 1000000) // c1.c1)) AS DOUBLE)
       |      / (SUM(o.m) * 1000000) AS avg_p
       |  FROM occ o JOIN c2 ON o.bh = c2.bh JOIN c1 ON o.ch = c1.ch
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(s.n_bigrams, 0) AS n_bigrams,
       |  COALESCE(s.avg_p, 0.0) AS avg_p,
       |  COALESCE(s.avg_p, 0.0) >= $FluentMin AS fluent
       |FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id""".stripMargin

  // --------------------------------------------------- t9 PII redaction

  /** PII patterns — simple-class regexes (char classes, +, {m,n} only),
    * deliberately inside the syntax subset where Java regex and RE2
    * (DuckDB) agree, so the oracle replays them verbatim. */
  private[graft] val PiiPatterns: Seq[(String, String, String)] = Seq(
    // (name, pattern, replacement token)
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}", "<PHONE>"),
    ("ip", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"))

  /** t9: PII redaction — the scrub pass every corpus takes before
    * training: emails, phone numbers, and IPv4 literals counted and
    * replaced with type tokens, in one narrow map (count + redact fused
    * into the same codegen span as the scan; nothing shuffles at any
    * scale). Replacement order is the declaration order, and each
    * pattern's COUNT is taken on the text as that stage actually sees it
    * (after earlier replacements) — so counts are exactly the number of
    * replacements performed, and text consumed by an earlier pattern is
    * never double-counted by a later one (digits inside an address that
    * the email pass redacted are invisible to the phone/IP passes).
    *
    * This corpus is lowercase word-soup and legitimately contains zero
    * PII, so every count is 0 and `redacted_len` = n_chars — the oracle
    * still checks all of that exactly; TextOpsSpec proves the actual
    * redaction behavior on planted synthetic documents (the same
    * corpus-plants-none pattern as d5). */
  def t9PiiRedact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // stages(i) = text after the first i patterns applied
    val stages = PiiPatterns.scanLeft($"text": Column) {
      case (c, (_, re, tok)) => regexp_replace(c, re, tok)
    }
    val counts = PiiPatterns.zip(stages).map { case ((name, re, _), seen) =>
      size(regexp_extract_all(seen, lit(re), lit(0))).as(s"n_$name")
    }
    Tables.documents(s, dir).select(
      ($"doc_id" +: counts :+ length(stages.last).as("redacted_len")): _*)
  }

  private val t9Sql = {
    val stages = PiiPatterns.scanLeft("text") {
      case (e, (_, re, tok)) => s"regexp_replace($e, '$re', '$tok', 'g')"
    }
    val counts = PiiPatterns.zip(stages).map { case ((name, re, _), seen) =>
      s"CAST(len(regexp_extract_all($seen, '$re')) AS INT) AS n_$name"
    }.mkString(",\n  ")
    s"""SELECT doc_id,
       |  $counts,
       |  CAST(length(${stages.last}) AS INT) AS redacted_len
       |FROM documents""".stripMargin
  }

  // --------------------------------------- t9b validated structured PII

  /** Candidate pattern for card numbers — 16-digit runs, in the same
    * Java/RE2-agreeing simple-class subset as [[PiiPatterns]]. The
    * subset has no boundary assertions, so a 17+-digit run (an
    * account/reference number) still MATCHES its leading 16 — the
    * redactor rejects those candidates structurally instead (see
    * [[cardRedactOf]]): a match is part of a longer digit run exactly
    * when a split part adjacent to it is empty (back-to-back matches)
    * or its following part begins with a digit (the run's < 16-digit
    * leftover), both decidable from the split array the rebuild
    * already carries. */
  private[graft] val CardPattern = "[0-9]{16}"

  /** Luhn checksum validity of a 16-digit string column — EXACT integer
    * arithmetic as a native fold (no UDF): 1-based position i from the
    * LEFT of a 16-length string is odd exactly when the digit is in an
    * even position from the right, i.e. the doubled rail; doubled
    * digits over 9 fold back by −9; valid iff the total ≡ 0 (mod 10). */
  private[graft] def luhnValid(c: Column): Column =
    aggregate(
      transform(sequence(lit(1), lit(16)), i => {
        val d = c.substr(i, lit(1)).cast("int")
        when(i % 2 === 1,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      }),
      lit(0), (acc, x) => acc + x) % 10 === 0

  /** t9b: VALIDATED structured-PII redaction — the production posture
    * over t9's pattern pass: a 16-digit string is only a credit card if
    * its Luhn checksum holds (ISO/IEC 7812 — the reason the check digit
    * exists), so t9b validates BEFORE redacting: candidates come from
    * [[CardPattern]], each is Luhn-checked by the native integer fold
    * ([[luhnValid]]), and only valid numbers are replaced by `<CARD>` —
    * an invoice number that happens to be 16 digits survives. The
    * conditional rebuild is declarative: split on the pattern, then
    * zip the candidate array back between the parts with the token
    * substituted only where the checksum held — one narrow codegen'd
    * projection, nothing shuffles (t9's shape).
    *
    * The fixture corpus plants no 16-digit runs (t9's
    * corpus-plants-none pattern) — the oracle still checks the zero
    * counts and pass-through lengths exactly; TextOpsSpec proves the
    * valid-redacts / invalid-survives behavior on planted documents
    * with a spec-computed check digit. */
  def t9bPiiValidated(s: SparkSession, dir: String): DataFrame =
    cardRedactOf(Tables.documents(s, dir))

  /** The t9b kernel over any (doc_id, text) relation. A candidate is
    * redacted only when BOTH hold: its Luhn checksum validates AND it
    * is a free-standing 16-digit run, not a slice of a longer one.
    * The run guard needs no lookarounds (excluded from the shared
    * regex subset): candidate i (0-based) sits inside a longer run iff
    * its following split part begins with a digit (a 17–31-digit run's
    * leftover), it abuts the NEXT candidate (empty separator — runs of
    * 32+), or it abuts the PREVIOUS one (the continuation slices). The
    * part BEFORE a match can never otherwise end in a digit — the
    * leftmost-match rule would have started the match there. */
  private[graft] def cardRedactOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val cands = regexp_extract_all($"text", lit(CardPattern), lit(0))
    val parts = split($"text", CardPattern, -1)
    def inLongRun(i: Column): Column =
      element_at(parts, i + 2).rlike("^[0-9]") ||
        (element_at(parts, i + 2) === "" && i + 1 < size(cands)) ||
        (element_at(parts, i + 1) === "" && i > 0)
    def cardValid(c: Column, i: Column): Column = luhnValid(c) && !inLongRun(i)
    val segs = transform(cands, (c, i) =>
      concat(when(cardValid(c, i), lit("<CARD>")).otherwise(c),
        element_at(parts, i + 2)))
    val rebuilt = concat(element_at(parts, 1), array_join(segs, ""))
    docs.select($"doc_id",
      size(cands).as("n_card_candidate"),
      size(filter(transform(cands, cardValid _), v => v)).as("n_card_valid"),
      length(rebuilt).as("redacted_len"))
  }

  // the identical Luhn fold as a DuckDB list comprehension — both
  // engines state the arithmetic independently and the hash compare
  // proves them equal; the long-run guard mirrors cardRedactOf's with
  // DuckDB's 1-based candidate index i (part after candidate i is
  // parts[i + 1], part before is parts[i])
  private val t9bSql =
    s"""WITH c AS (
       |  SELECT doc_id,
       |    regexp_extract_all(text, '$CardPattern') AS cands,
       |    str_split_regex(text, '$CardPattern') AS parts
       |  FROM documents),
       |v AS (
       |  SELECT doc_id, cands, parts,
       |    [list_sum([CASE WHEN j % 2 = 1
       |        THEN CASE WHEN 2 * CAST(cands[i][j] AS INT) > 9
       |             THEN 2 * CAST(cands[i][j] AS INT) - 9
       |             ELSE 2 * CAST(cands[i][j] AS INT) END
       |        ELSE CAST(cands[i][j] AS INT) END
       |      for j in generate_series(1, 16)]) % 10 = 0
       |      AND NOT (regexp_matches(parts[i + 1], '^[0-9]')
       |        OR (parts[i + 1] = '' AND i < len(cands))
       |        OR (parts[i] = '' AND i > 1))
       |      for i in generate_series(1, len(cands))] AS valids
       |  FROM c)
       |SELECT doc_id,
       |  CAST(len(cands) AS INT) AS n_card_candidate,
       |  CAST(len(list_filter(valids, x -> x)) AS INT) AS n_card_valid,
       |  CAST(length(parts[1] || COALESCE(list_aggregate(
       |    [CASE WHEN valids[i] THEN '<CARD>' ELSE cands[i] END
       |       || parts[i + 1]
       |     for i in generate_series(1, len(cands))],
       |    'string_agg', ''), '')) AS INT) AS redacted_len
       |FROM v""".stripMargin

  // ------------------------------------------------- t10 decontamination

  /** Word-gram size for the contamination check. Real pipelines use 8–13;
    * 8 keeps the fixture corpus (planted near-dups share most 8-grams)
    * producing non-trivial hits. */
  private[graft] val DecontGram = 8
  /** Every [[DecontMod]]-th doc_id plays the held-out eval set. */
  private[graft] val DecontMod = 20

  /** t10: train/eval decontamination — flag every training document that
    * shares at least one [[DecontGram]]-word n-gram with the held-out
    * eval slice (doc_id % [[DecontMod]] == 0 stands in for a benchmark
    * suite). This is the standard n-gram-overlap contamination check run
    * before LLM training.
    *
    * Scale shape: grams ride [[DedupOps.shingles]] (the native zip_with
    * fold — no lambda re-eval, no UDF, though interpreted) and are
    * hashed to 8 bytes BEFORE any exchange, so the corpus-side shuffle —
    * when one happens at all — moves (doc_id, hash) pairs, never text. A
    * real eval set is tiny and fixed (a benchmark suite, not a corpus
    * slice), so its distinct-gram relation broadcasts and the whole check
    * is a map-side semi-join over one corpus scan; with an outsized eval
    * slice like the fixture's 5% it degrades gracefully to a shuffled
    * semi-join on the 8-byte keys. xxhash64 collisions would flag a clean
    * doc: at ~10¹⁰ corpus grams the expected count is ~10⁻² (birthday on
    * 2⁶⁴) — acceptable for a KEEP/DROP screen, and the oracle compare
    * would catch any at fixture scale. */
  def t10Decontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val grams = docs.select($"doc_id", ($"doc_id" % DecontMod === 0).as("is_eval"),
      explode(DedupOps.shingles($"text", DecontGram)).as("gram"))
      .select($"doc_id", $"is_eval", xxhash64($"gram").as("gh"))
    val evalGrams = grams.where($"is_eval").select($"gh").distinct()
    val hits = grams.where(!$"is_eval")
      .join(evalGrams, Seq("gh"), "left_semi")
      .select($"doc_id").distinct()
      .withColumn("hit", lit(true))
    docs.select($"doc_id", ($"doc_id" % DecontMod === 0).as("is_eval"))
      .join(hits, Seq("doc_id"), "left")
      .select($"doc_id", $"is_eval",
        coalesce($"hit", lit(false)).as("contaminated"))
  }

  /** DuckDB replays the gram construction on STRINGS (list comprehension
    * over the split words, whole-text fallback below [[DecontGram]]
    * words — the exact semantics of [[DedupOps.shingles]]); equal flags
    * prove the hashed Spark plan faithful. */
  private[operators] val t10Sql =
    s"""WITH base AS (
       |  SELECT doc_id, doc_id % $DecontMod = 0 AS is_eval,
       |         string_split(text, ' ') AS w, text
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, is_eval, unnest(
       |    CASE WHEN len(w) >= $DecontGram
       |         THEN [array_to_string(w[i:i+${DecontGram - 1}], ' ')
       |               for i in range(1, len(w) - ${DecontGram - 2})]
       |         ELSE [text] END) AS gram
       |  FROM base),
       |ev AS (SELECT DISTINCT gram FROM grams WHERE is_eval),
       |hits AS (
       |  SELECT DISTINCT g.doc_id
       |  FROM grams g JOIN ev ON g.gram = ev.gram
       |  WHERE NOT g.is_eval)
       |SELECT b.doc_id, b.is_eval, h.doc_id IS NOT NULL AS contaminated
       |FROM base b LEFT JOIN hits h ON b.doc_id = h.doc_id""".stripMargin

  // --------------------------------------- t19 surgical decontamination

  /** Tokens of context removed on EACH side of a contaminated gram —
    * GPT-3's appendix-C discipline (they scrubbed a symmetric window
    * around every eval collision rather than the gram alone, so partial
    * paraphrases straddling the gram boundary die too). Driver-known
    * literal, mirrored into the oracle. */
  private[graft] val ScrubMargin = 4

  /** t19: SURGICAL decontamination — remove the contaminated span, keep
    * the document. t10 answers "is this doc contaminated?" (the
    * drop-the-document screen); real pipelines (GPT-3 appendix C, PaLM)
    * prefer the surgical variant: every [[DecontGram]]-token window
    * shared with the held-out eval slice is cut together with
    * [[ScrubMargin]] tokens of context on each side, overlapping cuts
    * merge (d11's gaps-and-islands on the margin-EXPANDED bounds), and
    * the document survives as its uncontaminated remainder. Unlike
    * d12's keep-first there is no surviving copy: every DETECTED
    * training-side occurrence is cut. Eval docs pass through verbatim
    * (they are not training data; flagged `is_eval` like t10). A short
    * (< gram) training doc equal to an eval pseudo-gram scrubs to ''.
    *
    * Known blind spot (t10's convention, shared by st12): an eval doc
    * SHORTER than [[DecontGram]] tokens is represented only by its
    * whole-text pseudo-gram, which can never equal a training-side
    * [[DecontGram]]-token window — so a short eval doc embedded INSIDE
    * a longer training document escapes both the screen and the scrub.
    * The guarantee is "no [[DecontGram]]-token eval window survives",
    * not "eval text never appears"; full sub-gram coverage would need a
    * substring probe of short-eval pseudo-grams, which the benchmark
    * convention (docs ≥ gram size) has not needed.
    *
    * Scale shape: t10's exactly for the detection half — grams ride
    * [[DedupOps.posGrams]] (the shingle ladder with positions), hashed
    * to 8 bytes at the scan, eval's distinct-gram relation broadcasts
    * when the eval set is benchmark-sized and degrades to a shuffled
    * semi-join on 8-byte keys past that. The island pass windows over
    * the SEMI-JOINED sliver only — (doc_id, pos) pairs of actual hits,
    * a relation the eval join has already collapsed to ~0 rows on a
    * clean corpus — and the rewrite is d12's `span_cut` kernel against
    * the broadcast-joined interval list, one doc_id-keyed exchange
    * total. */
  def t19SpanDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val g = DecontGram
    val docs = Tables.documents(s, dir)
    val sh = docs
      .select($"doc_id", ($"doc_id" % DecontMod === 0).as("is_eval"),
        posexplode(DedupOps.posGrams($"text", g)))
      .select($"doc_id", $"is_eval", $"pos", xxhash64($"col").as("gh"))
    val ev = sh.where($"is_eval").select($"gh").distinct()
    val cw = sh.where(!$"is_eval")
      .join(ev, Seq("gh"), "left_semi")
      .select($"doc_id", $"pos")
    val byPos = Window.partitionBy($"doc_id").orderBy($"pos")
    val runEnd = max($"pos" + lit(g + ScrubMargin))
      .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    val iv = cw
      .withColumn("brk",
        when(runEnd.isNull || ($"pos" - ScrubMargin) > runEnd, 1)
          .otherwise(0))
      .withColumn("island", sum($"brk").over(byPos))
      .groupBy($"doc_id", $"island")
      .agg(greatest(min($"pos") - ScrubMargin, lit(0)).as("st"),
        (max($"pos") + g + ScrubMargin).as("en"))
    // islands are disjoint (each starts past the run end before it), so
    // the cut is their summed length less the last one's overhang past
    // the text's final token
    val ivd = iv.groupBy($"doc_id")
      .agg(collect_list(struct($"st", $"en")).as("ivs"),
        count(lit(1)).cast("int").as("n_spans_cut"),
        sum($"en" - $"st").as("span_toks"),
        max($"en").as("span_end"))
    docs
      .select($"doc_id", ($"doc_id" % DecontMod === 0).as("is_eval"),
        $"text")
      .join(ivd, Seq("doc_id"), "left")
      .withColumn("n_tokens", size(split($"text", " ")))
      .withColumn("n_cut", coalesce(
        $"span_toks" - greatest($"span_end" - $"n_tokens", lit(0)), lit(0)))
      .select($"doc_id", $"is_eval",
        graft.functions.spanCut($"text", $"ivs").as("clean_text"),
        coalesce($"n_spans_cut", lit(0)).as("n_spans_cut"),
        $"n_cut".cast("int").as("n_tokens_cut"),
        ($"n_tokens" - $"n_cut").cast("int").as("n_tokens_kept"))
  }

  /** DuckDB replays grams on STRINGS with positions (t10's gram CTE +
    * d12's island/rewrite CTEs, margin-expanded); equal cleaned text
    * proves the hashed Spark plan faithful. */
  private[operators] val t19Sql = {
    val g = DecontGram
    val m = ScrubMargin
    s"""WITH base AS (
       |  SELECT doc_id, doc_id % $DecontMod = 0 AS is_eval,
       |         string_split(text, ' ') AS w, text
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, is_eval, (s).p AS pos, (s).g AS gram FROM (
       |    SELECT doc_id, is_eval, unnest(
       |      CASE WHEN len(w) >= $g
       |        THEN [{'p': i - 1, 'g': array_to_string(w[i:i+${g - 1}], ' ')}
       |              for i in range(1, len(w) - ${g - 2})]
       |        ELSE [{'p': 0, 'g': text}] END) AS s
       |    FROM base)),
       |ev AS (SELECT DISTINCT gram FROM grams WHERE is_eval),
       |cw AS (
       |  SELECT g.doc_id, g.pos FROM grams g JOIN ev ON g.gram = ev.gram
       |  WHERE NOT g.is_eval),
       |isl AS (
       |  SELECT doc_id, pos, CASE WHEN
       |      max(pos + ${g + m}) OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
       |      OR pos - $m > max(pos + ${g + m}) OVER (PARTITION BY doc_id
       |        ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |    THEN 1 ELSE 0 END AS brk
       |  FROM cw),
       |isl2 AS (
       |  SELECT doc_id, pos,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM isl),
       |iv AS (
       |  SELECT doc_id, island, GREATEST(MIN(pos) - $m, 0) AS st,
       |         MAX(pos) + ${g + m} AS en
       |  FROM isl2 GROUP BY 1, 2),
       |ivd AS (SELECT doc_id, COUNT(*) AS nspans FROM iv GROUP BY 1),
       |tok AS (
       |  SELECT b.doc_id, (s).i AS i, (s).t AS t FROM (
       |    SELECT doc_id, unnest(
       |      [{'i': i - 1, 't': w[i]} for i in range(1, len(w) + 1)]) AS s
       |    FROM base WHERE NOT is_eval) b),
       |kept AS (
       |  SELECT t.doc_id, string_agg(t.t, ' ' ORDER BY t.i) AS clean,
       |         COUNT(*) AS nkept
       |  FROM tok t JOIN ivd ON t.doc_id = ivd.doc_id
       |  LEFT JOIN iv
       |    ON t.doc_id = iv.doc_id AND t.i >= iv.st AND t.i < iv.en
       |  WHERE iv.doc_id IS NULL
       |  GROUP BY 1)
       |SELECT b.doc_id, b.is_eval,
       |  CASE WHEN ivd.doc_id IS NOT NULL THEN COALESCE(k.clean, '')
       |       ELSE b.text END AS clean_text,
       |  CAST(COALESCE(ivd.nspans, 0) AS INT) AS n_spans_cut,
       |  CAST(CASE WHEN ivd.doc_id IS NULL THEN 0
       |            ELSE len(b.w) - COALESCE(k.nkept, 0) END AS INT)
       |    AS n_tokens_cut,
       |  CAST(CASE WHEN ivd.doc_id IS NULL THEN len(b.w)
       |            ELSE COALESCE(k.nkept, 0) END AS INT) AS n_tokens_kept
       |FROM base b
       |LEFT JOIN ivd ON b.doc_id = ivd.doc_id
       |LEFT JOIN kept k ON b.doc_id = k.doc_id""".stripMargin
  }

  // ------------------------------------------------ t20 ingest novelty

  /** t20: per-document INGEST NOVELTY — for each incoming doc (d8's
    * deterministic ingest slice), how much of its content the standing
    * corpus already has: `n_windows` [[DecontGram]]-token windows,
    * `n_seen` of them whose exact token sequence occurs anywhere in the
    * standing corpus, and `novelty_micro` = (n_windows − n_seen)·10⁶
    * div n_windows. The corpus-growth economics signal (k7's per-doc
    * complement — k7 says whether the corpus is saturating, t20 says
    * which incoming documents still add content): an ingest pipeline
    * ranks candidates by novelty mass where st7/st9's binary screens
    * can only drop outright copies. Per-window exact-match novelty is
    * the Heaps/Lee-et-al. measurement, not a near-dup verdict — d8
    * remains the similarity screen.
    *
    * Scale shape: st12's exactly — windows hashed to 8 bytes at the
    * scan on BOTH sides, the standing gram-digest relation is distinct
    * (vocab-bounded) and joins as a hash semi-probe, the per-doc
    * aggregate is map-side combined on doc_id. Every doc has ≥ 1
    * window (the short-doc fallback), so the final division is total.
    * (No left-join base relation needed: the groupBy covers every
    * incoming doc because the left join keeps unmatched windows.) */
  def t20IngestNovelty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = DecontGram
    val docs = Tables.documents(s, dir)
    val isBatch =
      $"doc_id" % DedupOps.IngestMod === DedupOps.IngestRem
    val standing = docs.where(!isBatch)
      .select(explode(DedupOps.shingles($"text", g)).as("gr"))
      .select(xxhash64($"gr").as("gh"))
      .distinct().withColumn("seen", lit(true))
    docs.where(isBatch)
      .select($"doc_id", explode(DedupOps.posGrams($"text", g)).as("gr"))
      .select($"doc_id", xxhash64($"gr").as("gh"))
      .join(standing, Seq("gh"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when($"seen", 1L).otherwise(0L)).as("n_seen"))
      .withColumn("novelty_micro",
        expr("((n_windows - n_seen) * 1000000) div n_windows"))
  }

  private[operators] val t20Sql = {
    val m = DedupOps.IngestMod
    val r = DedupOps.IngestRem
    val g = DecontGram
    s"""WITH base AS (
       |  SELECT doc_id, string_split(text, ' ') AS w, text FROM documents),
       |standing AS (
       |  SELECT DISTINCT gram FROM (
       |    SELECT unnest(
       |      CASE WHEN len(w) >= $g
       |        THEN [array_to_string(w[i:i+${g - 1}], ' ')
       |              for i in range(1, len(w) - ${g - 2})]
       |        ELSE [text] END) AS gram
       |    FROM base WHERE doc_id % $m <> $r)),
       |ig AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(w) >= $g
       |      THEN [array_to_string(w[i:i+${g - 1}], ' ')
       |            for i in range(1, len(w) - ${g - 2})]
       |      ELSE [text] END) AS gram
       |  FROM base WHERE doc_id % $m = $r)
       |SELECT ig.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_windows,
       |  CAST(SUM(CASE WHEN s.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_seen,
       |  CAST(((COUNT(*) - SUM(CASE WHEN s.gram IS NOT NULL THEN 1 ELSE 0 END))
       |    * 1000000) // COUNT(*) AS BIGINT) AS novelty_micro
       |FROM ig LEFT JOIN standing s ON ig.gram = s.gram
       |GROUP BY 1""".stripMargin
  }

  // --------------------------------------------- t11 perplexity filter

  /** Bottom per-source quantile dropped by [[t11PerplexityFilter]]. */
  private[graft] val DropQuantile = 0.25

  /** t11: RELATIVE quality filtering — keep each source's top
    * (1 − [[DropQuantile]]) of documents by LM score, the CCNet-style
    * perplexity filter. A single global threshold ([[t8BigramLm]]'s
    * `fluent` bit) systematically biases against whole domains whose
    * score distribution sits lower (code, tables, non-English); ranking
    * WITHIN source compares each doc to its own domain. Emits the
    * percentile so downstream mixes can re-threshold without re-ranking.
    *
    * Scale shape: the LM relation is t8's (vocab²-bounded model tables);
    * the added cost is one exchange on source plus a per-source sort of
    * (doc_id, avg_p) pairs — ~24 B rows, text long gone. A pathologically
    * large single source makes that sort the bottleneck; at that point
    * the exact percent_rank degrades to an approximate threshold from
    * k2's quantile sketch (same output contract, documented trade) —
    * fixture scale keeps the exact rank, which is what the oracle can
    * replay. */
  def t11PerplexityFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val lm = t8BigramLm(s, dir).select($"doc_id", $"avg_p")
    val src = Tables.documents(s, dir).select($"doc_id", $"source")
    val w = Window.partitionBy($"source").orderBy($"avg_p", $"doc_id")
    src.join(lm, Seq("doc_id"))
      .withColumn("src_pctile", round(percent_rank().over(w), 6))
      .select($"doc_id", $"source", $"avg_p", $"src_pctile",
        ($"src_pctile" >= DropQuantile).as("keep"))
  }

  private[operators] val t11Sql =
    s"""WITH lm AS (SELECT doc_id, avg_p FROM ($t8Sql)),
       |ranked AS (
       |  SELECT d.doc_id, d.source, lm.avg_p,
       |    round(percent_rank() OVER (PARTITION BY d.source
       |          ORDER BY lm.avg_p, d.doc_id), 6) AS src_pctile
       |  FROM documents d JOIN lm ON d.doc_id = lm.doc_id)
       |SELECT doc_id, source, avg_p, src_pctile,
       |  src_pctile >= $DropQuantile AS keep
       |FROM ranked""".stripMargin

  // ------------------------------------------- t12 boilerplate / novelty

  /** A trigram present in at least this many docs is "common" — the
    * boilerplate signal (headers, footers, licence blurbs, navigation
    * chrome repeat VERBATIM across documents, which is exactly what
    * per-gram document frequency sees and per-doc repetition (t7)
    * cannot). 5 on a 500-doc fixture ≈ the 1% rule of thumb; production
    * calibrates per corpus — the CONTRACT is the df machinery. */
  private[graft] val CommonDf = 5

  /** t12: boilerplate / novelty scoring via shingle document frequency —
    * the RefinedWeb-style cross-document signal: for each doc, how many
    * of its distinct trigrams appear in ≥ [[CommonDf]] docs (boilerplate
    * mass) and how many appear nowhere else (novel mass). Counts stay
    * BIGINT end-to-end and the flag is integer arithmetic (5·n_common ≥
    * n_grams, i.e. ratio ≥ 0.2), so the FULL output hash-compares.
    *
    * Scale shape: grams ride [[DedupOps.shingles]] (the shared zip_with
    * fold, distinct per doc) and are xxhash64'd to 8 bytes before any
    * exchange — the df aggregation and the join back both move (gh, df)
    * longs, map-side combined, never gram strings (t8's h60 discipline;
    * a ~1e-10 collision merges the same counts in both engines). Two
    * narrow exchanges over 16-byte rows; nothing driver-side. Audited
    * plan: the (gh, df) relation BROADCASTS while it fits (fixture
    * plans show BroadcastHashJoin — the doc side never shuffles), and
    * the shingle fold is deliberately computed on both sides rather
    * than materialized once: recomputing a codegen'd narrow fold is
    * cheaper at corpus scale than the alternative — a window count
    * over gh, which would SORT the entire exploded gram stream. Past
    * broadcast size the join degrades gracefully to a hash-partitioned
    * join on the 8-byte key. */
  def t12Boilerplate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = Tables.documents(s, dir)
      .select($"doc_id", explode(DedupOps.shingles($"text", 3)).as("g"))
      .select($"doc_id", xxhash64($"g").as("gh"))
    val df = sh.groupBy($"gh").agg(count(lit(1)).as("df"))
    sh.join(df, Seq("gh"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"df" >= CommonDf, 1L).otherwise(0L)).as("n_common"),
        sum(when($"df" === 1, 1L).otherwise(0L)).as("n_novel"))
      .select($"doc_id", $"n_grams", $"n_common", $"n_novel",
        (lit(5) * $"n_common" >= $"n_grams").as("boilerplate"))
  }

  private[operators] val t12Sql =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, s FROM toks,
       |  UNNEST(CASE WHEN len(w) >= 3
       |    THEN list_transform(generate_series(1, len(w)-2),
       |                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |    ELSE [array_to_string(w, ' ')] END) AS u(s)),
       |df AS (SELECT s, count(*) AS df FROM sh GROUP BY 1)
       |SELECT sh.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(SUM(CASE WHEN df.df >= $CommonDf THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
       |  CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  5 * SUM(CASE WHEN df.df >= $CommonDf THEN 1 ELSE 0 END) >= count(*) AS boilerplate
       |FROM sh JOIN df USING (s)
       |GROUP BY sh.doc_id""".stripMargin

  // ------------------------------------------------ t13 BM25 retrieval

  /** BM25 constants as exact rationals — k1 = 6/5, b = 3/4 — so the
    * whole score is integer arithmetic (see [[t13Bm25Topk]]). */
  private[graft] val Bm25TopK = 10
  private[graft] val Bm25QueryTerms = 9 // 3 queries × 3 terms

  /** Stats-table version — bump on any change to tokenization, the term
    * selection rule, or the guard arithmetic, so a new build never loads
    * a stale-formula stats table. */
  private[graft] val Bm25Version = 1

  /** Path of the persisted BM25 query-side stats for `dir`'s documents
    * corpus — fingerprint-named like [[lmModelPath]], so a regenerated
    * corpus rolls the name and can never serve stale retrieval stats. */
  private[graft] def bm25StatsPath(s: SparkSession, dir: String): String =
    Layouts.artifactPath(s,
      s"graft_bm25_stats_v${Bm25Version}", dir, "documents")

  /** Driver-side retrieval scalars, persisted per corpus fingerprint
    * (the [[lmModel]] discipline applied to the query side): the 9
    * highest-df terms (ties by term string — binary collation in both
    * engines) that form the three 3-term queries, plus the corpus doc
    * count, integer average doc length, and max doc length (the
    * overflow-guard input). Computed ONCE per corpus fingerprint and
    * PUBLISHED atomically under target/ as a 9-row table; a warm
    * process — and a warm JVM through the in-process memo — pays zero
    * corpus-scan jobs to serve t13. */
  private val bm25Memo =
    new graft.sources.FingerprintMemo[(Seq[(Int, String, Long)], Long, Long)]

  private def bm25QuerySide(s: SparkSession, dir: String)
      : (Seq[(Int, String, Long)], Long, Long) = {
    val path = bm25StatsPath(s, dir)
    bm25Memo.getOrBuild(s, dir, "", path) {
        import s.implicits._
        Layouts.publish(path) {
          val docs = Tables.documents(s, dir)
          val row = docs.agg(count(lit(1)), sum(size(words($"text"))),
            max(size(words($"text")))).head()
          require(!row.isNullAt(0) && row.getLong(0) > 0,
            s"t13: empty documents corpus at $dir — BM25 stats undefined")
          val (n, tot, maxdl) =
            (row.getLong(0), row.getLong(1), row.getInt(2).toLong)
          val top = docs
            .select(explode(words($"text")).as("term"), $"doc_id")
            .distinct()
            .groupBy($"term").agg(count(lit(1)).as("df"))
            .orderBy($"df".desc, $"term")
            .limit(Bm25QueryTerms)
            .as[(String, Long)].collect()
          top.zipWithIndex.toSeq.map { case ((t, df), i) =>
            (i / 3, t, df, n, tot / n, maxdl)
          }.toDF("query_id", "term", "df", "n", "avgdl", "maxdl")
            .repartition(1).write
        }
        val rows = s.read
          .schema("query_id INT, term STRING, df LONG, n LONG, avgdl LONG, maxdl LONG")
          .parquet(path)
          .as[(Int, String, Long, Long, Long, Long)].collect()
          .sortBy(r => (r._1, r._2))
        val (n, avgdl, maxdl) = (rows.head._4, rows.head._5, rows.head._6)
        // Overflow guard (driver-side, all inputs known): the per-term
        // numerator idf_q·22·tf·avgdl must fit a BIGINT for EVERY doc —
        // tf is bounded by the max doc length. Spark would wrap silently
        // while DuckDB errors, so outside this bound engine and oracle
        // diverge instead of failing together; fail loudly here instead.
        val idfMax = rows.map(r =>
          ((2 * (n - r._3) + 1) * 1000000L) / (2 * r._3 + 1)).max
        require(BigInt(idfMax) * 22 * maxdl * avgdl <= Long.MaxValue,
          s"t13: BM25 numerator can overflow BIGINT (idf_max=$idfMax, " +
            s"maxdl=$maxdl, avgdl=$avgdl) — rescale the idf quantum")
        (rows.map(r => (r._1, r._2, r._3)).toSeq, n, avgdl)
      }
  }

  /** t13: BM25 top-k retrieval over the corpus — the search primitive a
    * curation pipeline runs for targeted decontamination and corpus
    * exploration. Three fixed queries (the corpus' top-df terms in
    * 3-term groups — deterministic, so the oracle derives the SAME
    * queries) are scored against every document with BM25
    * (k1 = 6/5, b = 3/4) and the top [[Bm25TopK]] per query returned.
    *
    * Numeric determinism: no log and no float — the idf is the raw
    * rational (N − df + ½)/(df + ½) scaled to micro-units by integer
    * division, and the tf saturation term is cleared of fractions by
    * multiplying through by 20·avgdl, so the per-term score is one
    * BIGINT integer division in both engines and the per-doc score an
    * exact integer sum (the t8 quantization discipline; Math.log vs
    * libm log differ in the last ulp, which a hash gate cannot
    * tolerate).
    *
    * Scale shape: the query relation is 9 rows (broadcast), and the
    * query TERMS are driver-known, so the term filter is applied as a
    * literal IN directly on the exploded token stream — BELOW the tf
    * aggregate (Catalyst has no rule to push an inner join under an
    * aggregate, so leaving the filter to the join would shuffle one
    * partial row per (doc, term) for the WHOLE corpus; plan-audited in
    * PlanAuditSpec). The first exchange therefore carries only the
    * 9 query terms' occurrences — df-bounded, far smaller than the
    * corpus — and the final top-k is a per-query window over at most
    * N rows, keyed by query_id. */
  def t13Bm25Topk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (qt, n, avgdl) = bm25QuerySide(s, dir)
    val qrel = qt.toDF("query_id", "term", "df")
    val docs = Tables.documents(s, dir)
    val tf = docs
      .select($"doc_id", size(words($"text")).as("dl"),
        explode(words($"text")).as("term"))
      .where($"term".isInCollection(qt.map(_._2)))
      .groupBy($"doc_id", $"dl", $"term")
      .agg(count(lit(1)).as("tf"))
    val idfQ = expr(s"((2 * (${n}L - df) + 1) * 1000000L) div (2 * df + 1)")
    val scoreT = expr(
      s"(idf_q * 22L * tf * ${avgdl}L) div " +
        s"((10L * tf * ${avgdl}L) + (3L * ${avgdl}L) + (9L * dl))")
    val scored = tf
      .join(broadcast(qrel), Seq("term"))
      .withColumn("idf_q", idfQ)
      .withColumn("score_t", scoreT)
      .groupBy($"query_id", $"doc_id")
      .agg(sum($"score_t").as("score_q"))
    scored
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"query_id").orderBy($"score_q".desc, $"doc_id")))
      .where($"rnk" <= Bm25TopK)
      .select($"query_id", $"rnk", $"doc_id", $"score_q")
  }

  private val t13Sql =
    s"""WITH c AS (SELECT COUNT(*) AS n,
       |  CAST(SUM(len(string_split(text,' '))) AS BIGINT) // COUNT(*) AS avgdl
       |  FROM documents),
       |toks AS (SELECT doc_id, len(string_split(text,' ')) AS dl,
       |  unnest(string_split(text,' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM toks GROUP BY 1,2,3),
       |stats AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |qt AS (SELECT CAST((row_number() OVER (ORDER BY df DESC, term) - 1) // 3 AS INT)
       |         AS query_id, term, df
       |       FROM stats ORDER BY df DESC, term LIMIT $Bm25QueryTerms),
       |scored AS (
       |  SELECT qt.query_id, tf.doc_id,
       |    CAST(SUM(
       |      ((((2 * (c.n - qt.df) + 1) * 1000000) // (2 * qt.df + 1))
       |        * 22 * tf.tf * c.avgdl)
       |      // ((10 * tf.tf * c.avgdl) + (3 * c.avgdl) + (9 * tf.dl))
       |    ) AS BIGINT) AS score_q
       |  FROM tf JOIN qt USING (term), c
       |  GROUP BY 1, 2)
       |SELECT query_id, rnk, doc_id, score_q FROM (
       |  SELECT query_id, doc_id, score_q,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_q DESC, doc_id) AS INT) AS rnk
       |  FROM scored) ranked
       |WHERE rnk <= $Bm25TopK""".stripMargin

  // ------------------------------------------------ t14 TF-IDF terms

  /** Salient terms kept per source. */
  private[graft] val TfidfTopK = 5

  /** t14: per-source salient terms — the top-[[TfidfTopK]] BIGRAM terms
    * of each source by TF-IDF, the first question an analyst asks of a
    * new corpus slice ("what is src7 actually about?") and the
    * source-level complement of t13's corpus-level retrieval. Terms are
    * word bigrams, not unigrams: on any broad-vocabulary corpus the
    * unigram vocabulary is near-fully shared (df ≈ S for everything, idf
    * constant, ranking degenerates to raw tf), while bigram df actually
    * discriminates. IDF follows the t13 no-log/no-float discipline: with
    * S sources and df(t) = sources containing t, idf_micro = (S·10⁶)
    * div df — exact BIGINT in both engines (a log-damped variant changes
    * the ranking constant, not the machinery; the CONTRACT is the
    * integer-rational plumbing, the [[CommonDf]] rule). score =
    * tf · idf_micro; ties broken by term so the top-k is total-ordered.
    * `tf * 2·10⁷` must fit in a Long — holds to ~4·10¹¹ occurrences of
    * one term in one source.
    *
    * Scale shape: ONE corpus-token-scale exchange — the map-side-combined
    * (source, term) tf aggregate; everything downstream consumes that
    * bigram-vocab × sources bounded relation. df rides a window over the
    * term partitions of tf (no tf self-join — a join formulation plans tf
    * twice and Catalyst's exchange reuse does NOT collapse the copies
    * because column pruning gives each a different subtree; plan-audited
    * in PlanAuditSpec). S = the corpus source count comes from a second,
    * source-column-only scan of documents (a dictionary-column pass — no
    * text read, no tokenization) broadcast as one row. Text is pruned at
    * the main scan to (source, text); the bigram fold is the shingle
    * zip_with (native, no per-element subtree re-eval), kept
    * multiplicity-preserving (no array_distinct — tf is an occurrence
    * count). */
  def t14TfidfTerms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val wds = split($"text", " ")
    val n = size(wds) - lit(1) // bigram count; 1-token docs contribute none
    val bg = zip_with(slice(wds, lit(1), n), slice(wds, lit(2), n),
      (a, b) => concat(a, lit(" "), b))
    val docs = Tables.documents(s, dir)
    val tf = docs
      .select($"source", explode(bg).as("term"))
      .groupBy($"source", $"term").agg(count(lit(1)).as("tf"))
    val nSrc = docs.select($"source").distinct()
      .agg(count(lit(1)).as("n_src"))
    val w = Window.partitionBy($"source").orderBy($"score".desc, $"term")
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy($"term")))
      .crossJoin(broadcast(nSrc))
      .withColumn("score", $"tf" * expr("(n_src * 1000000) DIV df"))
      .withColumn("rk", row_number().over(w))
      .where($"rk" <= TfidfTopK)
      .select($"source", $"rk", $"term", $"tf", $"df", $"score")
  }

  private val t14Sql =
    s"""WITH tf AS (
       |  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
       |    SELECT source, unnest(list_transform(
       |      generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1]))
       |      AS term
       |    FROM (SELECT source, string_split(text, ' ') AS w FROM documents))
       |  GROUP BY 1, 2),
       |ns AS (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_src
       |  FROM documents),
       |scored AS (
       |  SELECT tf.source, tf.term, tf.tf,
       |    CAST(COUNT(*) OVER (PARTITION BY tf.term) AS BIGINT) AS df,
       |    tf.tf * ((ns.n_src * 1000000)
       |      // CAST(COUNT(*) OVER (PARTITION BY tf.term) AS BIGINT))
       |      AS score
       |  FROM tf CROSS JOIN ns)
       |SELECT source, rk, term, tf, df, score FROM (
       |  SELECT source, term, tf, df, score,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY score DESC, term) AS INT) AS rk
       |  FROM scored) ranked
       |WHERE rk <= $TfidfTopK""".stripMargin

  // ------------------------------------------------ t15 reference-LM score

  /** t15: cross-corpus quality scoring against a REFERENCE language
    * model — the actual CCNet deployment shape: train the LM on a
    * trusted slice (Wikipedia in the paper; t10's held-out doc_id %
    * [[DecontMod]] == 0 slice here) and score the web-scale pool
    * against it. t8 scores the corpus against itself, so it can never
    * see out-of-vocabulary mass; t15's scoring LEFT-joins each doc's
    * bigram occurrences to the [[refLmModel]], counting
    * out-of-reference-vocabulary bigrams in the denominator at
    * probability 0 and shipping that unmeasured mass as its own
    * `n_oov` column (for a reference doc n_oov is 0 by construction —
    * spec-asserted). Numeric discipline is t8's verbatim: micro-unit
    * integer probabilities, exact BIGINT sums, ONE final IEEE division.
    *
    * Scale shape: t8's exactly — occurrences map-side combined to
    * (doc_id, 8-byte hashes, count) before the one corpus-scale
    * exchange; the model side is reference-vocab²-bounded (far smaller
    * than the t8 model: the reference is 1/[[DecontMod]] of the
    * corpus) and broadcast by AQE when small; the persisted
    * fingerprint-named model means a warm process pays zero training
    * jobs. */
  def t15RefLmScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val occ = docs
      .select($"doc_id", explode(bigramPairs($"text")).as("p"))
      .groupBy($"doc_id", $"p.ch".as("ch"), $"p.bh".as("bh"))
      .agg(count(lit(1)).as("m"))
    val scored = occ.join(refLmModel(s, dir), Seq("ch", "bh"), "left")
      .groupBy($"doc_id")
      .agg(sum($"m").as("n_bigrams"),
        sum(when($"pq".isNull, $"m").otherwise(0L)).as("n_oov"),
        (sum($"m" * coalesce($"pq", lit(0L))).cast("double") /
          (sum($"m") * lit(1000000L))).as("ref_avg_p"))
    docs.select($"doc_id")
      .join(scored, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        coalesce($"n_oov", lit(0L)).as("n_oov"),
        coalesce($"ref_avg_p", lit(0.0)).as("ref_avg_p"))
  }

  // t15's oracle: the t8 spelling with the model CTEs filtered to the
  // reference slice and the scoring join flipped to LEFT + COALESCE.
  private val t15Sql =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |occ AS (
       |  SELECT doc_id,
       |    ${graft.sources.Hash60.sql60("u.x.c")} AS ch,
       |    ${graft.sources.Hash60.sql60("u.x.s")} AS bh,
       |    count(*) AS m
       |  FROM toks, UNNEST(list_transform(generate_series(1, len(w) - 1),
       |    i -> {'c': w[i], 's': w[i] || ' ' || w[i+1]})) AS u(x)
       |  GROUP BY 1, 2, 3),
       |rocc AS (
       |  SELECT ch, bh, CAST(SUM(m) AS BIGINT) AS m FROM occ
       |  WHERE (doc_id % $DecontMod) = 0 GROUP BY 1, 2),
       |c2 AS (SELECT bh, CAST(SUM(m) AS BIGINT) AS c2 FROM rocc GROUP BY 1),
       |c1 AS (SELECT ch, CAST(SUM(m) AS BIGINT) AS c1 FROM rocc GROUP BY 1),
       |model AS (
       |  SELECT r.ch, r.bh, ((c2.c2 * 1000000) // c1.c1) AS pq
       |  FROM rocc r JOIN c2 ON r.bh = c2.bh JOIN c1 ON r.ch = c1.ch),
       |scored AS (
       |  SELECT o.doc_id,
       |    CAST(SUM(o.m) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(CASE WHEN mo.pq IS NULL THEN o.m ELSE 0 END) AS BIGINT)
       |      AS n_oov,
       |    CAST(SUM(o.m * COALESCE(mo.pq, 0)) AS DOUBLE)
       |      / (SUM(o.m) * 1000000) AS ref_avg_p
       |  FROM occ o LEFT JOIN model mo ON o.ch = mo.ch AND o.bh = mo.bh
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(s.n_bigrams, 0) AS n_bigrams,
       |  COALESCE(s.n_oov, 0) AS n_oov,
       |  COALESCE(s.ref_avg_p, 0.0) AS ref_avg_p
       |FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id""".stripMargin

  // ------------------------------------------------ t16 Gopher rule flags

  /** The canonical Gopher stop-word octet (Rae et al. 2021 §A1.1:
    * "the, be, to, of, and, that, have, with"). */
  private[operators] val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** t16: the Gopher quality-rule battery (Rae et al. 2021 §A1.1) as
    * per-rule attribute flags — the attributes-table deployment shape
    * (one named boolean column per published rule, so a curation run can
    * ablate rules independently and audits can ask "which rule killed
    * this document"), where t3 collapses its battery into one score.
    * Word-level rules only: the corpus is single-line, so the
    * line-shaped rules (ellipsis-line ratio, bullet-line ratio) are
    * vacuous here and deliberately omitted; the duplicate-n-gram family
    * is t7's; cross-document boilerplate is t12's.
    *
    * Rules (flag = document PASSES):
    *   - `r_word_count`:    50 ≤ words ≤ 100 000 (the Gopher band);
    *   - `r_mean_word_len`: mean word length in [3, 10];
    *   - `r_alpha_words`:   ≥ 80% of words contain an alphabetic char;
    *   - `r_stopwords`:     ≥ 2 distinct [[GopherStops]] present;
    *   - `r_symbol_ratio`:  `#`/`...`-bearing words ≤ 10% of words;
    *   - `r_top_word_mass`: chars under the MOST FREQUENT word ≤ 20%
    *     of word chars (the n=1 member of Gopher's top-n-gram
    *     char-fraction family — n ≥ 2 is t7's territory; frequency
    *     picks the word, ties broken by mass — see the key-packing
    *     note in [[gopherRuleFlags]]);
    *   - `gopher_keep`:     AND of all six.
    *
    * Every comparison is an integer cross-multiplication — no division,
    * no floats, so the oracle hash is exact by construction (the
    * determinism discipline). Pure narrow map riding the scan: no
    * shuffle at any scale; the top-word rule is O(distinct × words) per
    * row — bounded by document length, never by corpus size.
    *
    * Fixture note: the synthetic corpus' vocabulary contains exactly ONE
    * of the octet ("the"), so `r_stopwords` — and therefore
    * `gopher_keep` — is false on every fixture document. That is the
    * rule WORKING as published: word-soup without function words is
    * precisely what the stopword gate exists to reject (the spec pins
    * this corpus property and exercises the pass path on planted
    * natural-shaped docs). */
  def t16GopherRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(($"doc_id" +: gopherRuleFlags($"text")
        .map { case (n, c) => c.as(n) }): _*)
      .withColumn("gopher_keep",
        $"r_word_count" && $"r_mean_word_len" && $"r_alpha_words" &&
          $"r_stopwords" && $"r_symbol_ratio" && $"r_top_word_mass")
  }

  /** The six [[t16GopherRules]] rules as named (flag, expression) pairs
    * over a text column — factored so the streaming quality gate
    * ([[graft.streaming.StreamingOps.qualityGate]]) applies the
    * IDENTICAL battery per-row at ingest. */
  private[graft] def gopherRuleFlags(text: Column): Seq[(String, Column)] = {
    val w = words(text)
    val nw = size(w)
    // Σ word lengths = chars − (n−1) separators for space-joined text.
    val twc = length(text) - nw + lit(1)
    val alphaW = size(filter(w, x => x.rlike("[A-Za-z]")))
    val stopHits = size(filter(
      array(GopherStops.map(lit): _*), x => array_contains(w, x)))
    val symW = size(filter(w, x => x.contains("#") || x.contains("...")))
    // char mass of the MOST FREQUENT word (Rae et al. 2021's rule — not
    // the max char-mass word, which a rare long word can win): per
    // distinct word, pack (freq, mass) as freq·2³¹ + mass = freq·(2³¹ +
    // len), so array_max orders by freq then mass and % recovers the
    // winner's mass. Exact while mass < 2³¹ chars/doc and freq < 2³².
    val topMass = array_max(transform(array_distinct(w),
      x => size(filter(w, y => y === x)).cast("long") *
        (lit(2147483648L) + length(x)))) % lit(2147483648L)
    Seq(
      "r_word_count" -> nw.between(50, 100000),
      "r_mean_word_len" -> ((lit(3) * nw) <= twc && twc <= (lit(10) * nw)),
      "r_alpha_words" -> ((lit(5) * alphaW) >= (lit(4) * nw)),
      "r_stopwords" -> (stopHits >= 2),
      "r_symbol_ratio" -> ((lit(10) * symW) <= nw),
      "r_top_word_mass" -> ((lit(5) * topMass) <= twc))
  }

  /** The conjunction of [[gopherRuleFlags]] — `gopher_keep` as one
    * composable per-row expression. */
  private[graft] def gopherKeepExpr(text: Column): Column =
    gopherRuleFlags(text).map(_._2).reduce(_ && _)

  private[graft] val t16Sql = {
    val stops = GopherStops.map(x => s"'$x'").mkString("[", ", ", "]")
    s"""WITH f AS (
       |  SELECT doc_id,
       |    string_split(text, ' ') AS w,
       |    len(string_split(text, ' ')) AS nw,
       |    (length(text) - len(string_split(text, ' '))) + 1 AS twc
       |  FROM documents),
       |r AS (
       |  SELECT doc_id,
       |    (nw BETWEEN 50 AND 100000) AS r_word_count,
       |    (((3 * nw) <= twc) AND (twc <= (10 * nw))) AS r_mean_word_len,
       |    ((5 * len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))))
       |       >= (4 * nw)) AS r_alpha_words,
       |    (len(list_filter($stops,
       |       s -> list_contains(w, s))) >= 2) AS r_stopwords,
       |    ((10 * len(list_filter(w,
       |       x -> (contains(x, '#') OR contains(x, '...'))))) <= nw)
       |      AS r_symbol_ratio,
       |    ((5 * (list_max(list_transform(list_distinct(w),
       |       x -> (len(list_filter(w, y -> y = x)) * (2147483648 + length(x)))))
       |       % 2147483648)) <= twc)
       |      AS r_top_word_mass
       |  FROM f)
       |SELECT doc_id, r_word_count, r_mean_word_len, r_alpha_words,
       |  r_stopwords, r_symbol_ratio, r_top_word_mass,
       |  (r_word_count AND r_mean_word_len AND r_alpha_words
       |    AND r_stopwords AND r_symbol_ratio AND r_top_word_mass)
       |    AS gopher_keep
       |FROM r""".stripMargin
  }

  // ------------------------------------------------ t17 CCNet ppl buckets

  /** t17: CCNet's head/middle/tail split (Wenzek et al. 2020 §3.3) —
    * the step CCNet actually ships AFTER reference-LM scoring: within
    * each language, partition the pool into three quality tiers by
    * reference-model perplexity, so downstream training mixes can take
    * "head only" or "head + middle" per language. [[t15RefLmScore]] is
    * the scoring half; t17 is the tiering half. Here higher
    * `score_micro` (mean micro-unit reference probability — the exact
    * integer analog of lower perplexity) = cleaner, so `head` is the
    * top third.
    *
    * Tie discipline — the deliberate divergence from a doc-granular
    * NTILE: bucket boundaries are drawn between score CLASSES, never
    * through one. A class belongs to the bucket where its first
    * (highest-ranked) document falls: with `cum_prev` = docs scoring
    * strictly higher, a class is `head` if cum_prev < ⌈n/3⌉, `middle`
    * if cum_prev < ⌈2n/3⌉, else `tail`. Equal scores therefore always
    * land in the same bucket — an audit property a real curation team
    * wants (two identical-quality docs must get identical treatment),
    * and what makes the operator oracle-exact without a per-doc global
    * row_number.
    *
    * Scale shape: scoring is t15's budget verbatim (one map-side-
    * combined corpus-token exchange against the persisted
    * [[refLmModel]]; warm process trains nothing). The tiering adds
    * only BOUNDED work: `score_micro` ∈ [0, 10⁶] by construction, so
    * the (lang, score) histogram is ≤ langs × 10⁶ rows regardless of
    * corpus size, its per-lang cumulative window runs over that bounded
    * relation (never a doc-granular single-lang window — the
    * anti-pattern this formulation exists to avoid), and the final
    * assignment joins a TWO-ROW-PER-LANG cutoff relation broadcast to
    * the scored docs. No global sort at any scale. */
  def t17PplBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val occ = docs
      .select($"doc_id", explode(bigramPairs($"text")).as("p"))
      .groupBy($"doc_id", $"p.ch".as("ch"), $"p.bh".as("bh"))
      .agg(count(lit(1)).as("m"))
    val perDoc = occ.join(refLmModel(s, dir), Seq("ch", "bh"), "left")
      .groupBy($"doc_id")
      .agg(expr("sum(m * coalesce(pq, 0L)) div sum(m)").as("score_micro"))
    val scored = docs.select($"doc_id", $"lang")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id", $"lang",
        coalesce($"score_micro", lit(0L)).as("score_micro"))
    pplBucketize(s, scored)
  }

  /** The tiering half of [[t17PplBuckets]], factored for direct spec
    * coverage: assigns each (doc_id, lang, score_micro) row its
    * head/middle/tail bucket under the class-cohesive boundary rule
    * documented there. Input score domain must be bounded (t17's is
    * ≤ 10⁶ by construction) — the histogram, its window, and the
    * 2-values-per-lang cutoff relation are all score-domain-bounded. */
  private[graft] def pplBucketize(s: SparkSession, scoredIn: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // `scored` is referenced twice — the histogram below and the final
    // bucket assignment — and without materialization Catalyst plans the
    // WHOLE scoring subtree (bigram explode + model join + per-doc
    // aggregate) once per reference: r19's plan audit found the duplicate
    // pair of scoring exchanges in every e5-sheet consumer (e5–e7,
    // e9–e11, p8). Materializing the narrow (doc_id, lang, score_micro)
    // relation computes the scoring once per query; the
    // decompressed-stats broadcast-flip lesson (Tables.fillCores) does
    // not apply — three thin columns, and the only join consuming this
    // relation is an explicit broadcast(cuts).
    val scored = graft.sources.Materialize(scoredIn)
    val hist = scored.groupBy($"lang", $"score_micro")
      .agg(count(lit(1)).as("c"))
    val classes = hist
      .withColumn("n", sum($"c").over(Window.partitionBy($"lang")))
      .withColumn("cum_prev", coalesce(
        sum($"c").over(Window.partitionBy($"lang")
          .orderBy($"score_micro".desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"lang", $"score_micro",
        when($"cum_prev" < expr("(n + 2) div 3"), "head")
          .when($"cum_prev" < expr("(2 * n + 2) div 3"), "middle")
          .otherwise("tail").as("b"))
    // bucket segments are contiguous in score order, so two cutoffs per
    // lang reproduce the full class labeling; s_h always exists (the
    // top class has cum_prev = 0), s_m is null when a giant head class
    // swallows the middle target
    val cuts = classes.groupBy($"lang").agg(
      min(when($"b" === "head", $"score_micro")).as("s_h"),
      min(when($"b" === "middle", $"score_micro")).as("s_m"))
    scored.join(broadcast(cuts), Seq("lang"))
      .select($"doc_id", $"lang", $"score_micro",
        when($"score_micro" >= $"s_h", "head")
          .when($"s_m".isNotNull && $"score_micro" >= $"s_m", "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  // t17's oracle: t15's scoring CTEs with the mean kept as an exact
  // integer div, then the identical histogram/cutoff construction.
  private[operators] val t17Sql =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |occ AS (
       |  SELECT doc_id,
       |    ${graft.sources.Hash60.sql60("u.x.c")} AS ch,
       |    ${graft.sources.Hash60.sql60("u.x.s")} AS bh,
       |    count(*) AS m
       |  FROM toks, UNNEST(list_transform(generate_series(1, len(w) - 1),
       |    i -> {'c': w[i], 's': w[i] || ' ' || w[i+1]})) AS u(x)
       |  GROUP BY 1, 2, 3),
       |rocc AS (
       |  SELECT ch, bh, CAST(SUM(m) AS BIGINT) AS m FROM occ
       |  WHERE (doc_id % $DecontMod) = 0 GROUP BY 1, 2),
       |c2 AS (SELECT bh, CAST(SUM(m) AS BIGINT) AS c2 FROM rocc GROUP BY 1),
       |c1 AS (SELECT ch, CAST(SUM(m) AS BIGINT) AS c1 FROM rocc GROUP BY 1),
       |model AS (
       |  SELECT r.ch, r.bh, ((c2.c2 * 1000000) // c1.c1) AS pq
       |  FROM rocc r JOIN c2 ON r.bh = c2.bh JOIN c1 ON r.ch = c1.ch),
       |sc AS (
       |  SELECT o.doc_id,
       |    (CAST(SUM(o.m * COALESCE(mo.pq, 0)) AS BIGINT)
       |      // CAST(SUM(o.m) AS BIGINT)) AS score_micro
       |  FROM occ o LEFT JOIN model mo ON o.ch = mo.ch AND o.bh = mo.bh
       |  GROUP BY 1),
       |scored AS (
       |  SELECT d.doc_id, d.lang,
       |    CAST(COALESCE(sc.score_micro, 0) AS BIGINT) AS score_micro
       |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id),
       |hist AS (
       |  SELECT lang, score_micro, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM scored GROUP BY 1, 2),
       |cls AS (
       |  SELECT lang, score_micro,
       |    (CASE WHEN cum_prev < ((n + 2) // 3) THEN 'head'
       |          WHEN cum_prev < (((2 * n) + 2) // 3) THEN 'middle'
       |          ELSE 'tail' END) AS b
       |  FROM (
       |    SELECT lang, score_micro,
       |      COALESCE(CAST(SUM(c) OVER (PARTITION BY lang
       |        ORDER BY score_micro DESC
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |        AS BIGINT), 0) AS cum_prev,
       |      CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS n
       |    FROM hist) h),
       |cuts AS (
       |  SELECT lang,
       |    MIN(CASE WHEN b = 'head' THEN score_micro END) AS s_h,
       |    MIN(CASE WHEN b = 'middle' THEN score_micro END) AS s_m
       |  FROM cls GROUP BY 1)
       |SELECT s.doc_id, s.lang, s.score_micro,
       |  (CASE WHEN s.score_micro >= c.s_h THEN 'head'
       |        WHEN (c.s_m IS NOT NULL) AND (s.score_micro >= c.s_m)
       |          THEN 'middle'
       |        ELSE 'tail' END) AS ppl_bucket
       |FROM scored s JOIN cuts c ON s.lang = c.lang""".stripMargin

  // ------------------------------------------- t18 quality classifier

  /** Feature-hash bucket count for [[t18QualityClassifier]] — the fixed
    * model dimension (fastText's hashing-trick device): every token maps
    * to [[Hash60]] mod this, so the weight table is D-bounded no matter
    * the vocabulary. */
  private[graft] val ClfBuckets = 4096
  /** doc_id % [[DecontMod]] == this plays the NEGATIVE (pool) sample;
    * == 0 is the positive reference slice (t10's held-out convention). */
  private[graft] val ClfNegRem = 1
  /** Trainer version — bump on any change to hashing, the bucket count,
    * or the weight formula ([[lmModel]]'s staleness discipline). */
  private[graft] val ClfVersion = 1
  private val ClfMicro = 1000000L

  /** t18: the TRAINED discriminative quality scorer — the CCNet/GPT-3
    * deployment shape (Wenzek et al. 2020 §3.3; Brown et al. 2020 §A):
    * a linear model over hashed token features, trained "reference vs
    * pool", scores every document by how reference-like its vocabulary
    * is. t15/t17 cover the generative (perplexity) side of quality; this
    * is the discriminative complement those stacks ship alongside it.
    *
    * Model: weight of bucket b = (c⁺(b)·10⁶ div T⁺) − (c⁻(b)·10⁶ div
    * T⁻) — the micro-unit FREQUENCY CONTRAST between the positive slice
    * (t10's held-out doc_id % [[DecontMod]] == 0) and the negative pool
    * sample (== [[ClfNegRem]]), i.e. the integer-exact stand-in for the
    * naive-Bayes log-odds a fastText-style classifier converges toward
    * on unigram features (the log is banned from hashed outputs by the
    * determinism discipline; sign and ranking of the decision function
    * are what the screen consumes). decision = Σ over token occurrences
    * of w[h60(tok) mod D] with `clf_keep` at > 0 — "this document's
    * vocabulary is more reference-typical than pool-typical".
    *
    * Training is ONE vocab-bounded aggregate over the two slices (counts
    * map-side combined to ≤ D partial rows per task), published
    * atomically under a fingerprint-named path (the [[lmModel]]
    * discipline) — a warm process, and every later query in THIS
    * process, loads D rows instead of re-training. Scoring is a PURE
    * NARROW MAP: the D-bounded weight table rides the plan as ONE array
    * literal (no join, no shuffle, no state at any corpus size) and each
    * row folds its own tokens through it.
    *
    * Fixture note: the synthetic slices are draws from the same
    * distribution, so learned weights are small-sample noise and `keep`
    * splits the corpus arbitrarily-but-deterministically — the oracle
    * still replays training AND scoring exactly (the t15 re-derivation
    * device); TextOpsSpec proves real separation on a planted separable
    * corpus and replays the scores in independent Scala. */
  def t18QualityClassifier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = clfWeightVector(s, dir)
    val docs = Tables.documents(s, dir)
    docs.select($"doc_id",
      size(words($"text")).as("n_toks"),
      clfScoreExpr($"text", w).as("clf_score"))
      .withColumn("clf_keep", $"clf_score" > 0L)
  }

  /** The decision function over a text column given the dense weight
    * vector — factored so e5 and the spec's replay apply the IDENTICAL
    * expression. One array literal + a per-row fold; h60 mod D is
    * non-negative by construction (60-bit hash). */
  private[graft] def clfScoreExpr(text: Column, w: Array[Long]): Column =
    aggregate(
      transform(words(text), t =>
        element_at(typedLit(w.toSeq),
          (h60(t) % ClfBuckets).cast("int") + 1)),
      lit(0L), (acc, x) => acc + x)

  /** Per-bucket (b, cp, cn) token counts over the reference (doc_id %
    * [[DecontMod]] == 0) and pool (== [[ClfNegRem]]) slices — ONE
    * vocab-bounded map-side-combined aggregate, shared by t18's contrast
    * weights and p6's DSIR importance ratios so the two trained samplers
    * cannot drift on slice or hashing conventions. */
  private[operators] def clfBucketCounts(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .where($"doc_id" % DecontMod === 0 || $"doc_id" % DecontMod === ClfNegRem)
      .select(($"doc_id" % DecontMod === 0).as("pos"),
        explode(words($"text")).as("tok"))
      .select($"pos", (h60($"tok") % ClfBuckets).as("b"))
      .groupBy($"b")
      .agg(sum(when($"pos", 1L).otherwise(0L)).as("cp"),
        sum(when(!$"pos", 1L).otherwise(0L)).as("cn"))
  }

  /** The trained (bucket, weight) relation over any documents frame —
    * the spec drives planted corpora through this kernel. Buckets with
    * zero training occurrences carry no row (weight 0 by omission). */
  private[graft] def classifierWeightsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val counts = clfBucketCounts(docs)
    val totals = counts.agg(sum($"cp").as("tp"), sum($"cn").as("tn"))
    counts.crossJoin(broadcast(totals))
      .select($"b",
        (expr(s"(cp * $ClfMicro) div tp") - expr(s"(cn * $ClfMicro) div tn"))
          .as("w"))
  }

  private[graft] def clfModelPath(s: SparkSession, dir: String): String =
    Layouts.artifactPath(s,
      s"graft_clf_v${ClfVersion}_d${ClfBuckets}", dir, "documents")

  private val clfMemo = new graft.sources.FingerprintMemo[Array[Long]]

  /** Dense weight vector (length [[ClfBuckets]]) for `dir`'s corpus —
    * trained once per corpus fingerprint, persisted, memoized per session.
    * The collect is D-bounded (the model IS the collected artifact —
    * the bm25QuerySide precedent). Fails loudly on an empty slice: a
    * classifier trained on nothing must not silently score zeros. */
  private def clfWeightVector(s: SparkSession, dir: String): Array[Long] = {
    val path = clfModelPath(s, dir)
    clfMemo.getOrBuild(s, dir, "", path) {
        import s.implicits._
        Layouts.publish(path)(
          classifierWeightsOf(Tables.documents(s, dir)).repartition(1).write)
        val rows = s.read.schema("b LONG, w LONG").parquet(path)
          .as[(Long, Long)].collect()
        require(rows.nonEmpty,
          s"t18: no training tokens in either slice at $dir — classifier undefined")
        val w = new Array[Long](ClfBuckets)
        rows.foreach { case (b, v) => w(b.toInt) = v }
        w
      }
  }

  /** t16's rule battery + t18's classifier verdict fused as ONE narrow
    * projection over ONE documents scan (round 19, guide §2.4): both
    * stages are pure per-row expressions, so the e5 sheet joining them
    * on doc_id paid a join's exchanges for columns computable side by
    * side. Values are [[t16GopherRules]]' and [[t18QualityClassifier]]'s
    * expressions verbatim. */
  private[graft] def rulesAndClf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = clfWeightVector(s, dir)
    Tables.documents(s, dir)
      .select(($"doc_id" +:
        gopherRuleFlags($"text").map { case (n, c) => c.as(n) }) :+
        clfScoreExpr($"text", w).as("clf_score"): _*)
      .withColumn("gopher_keep",
        $"r_word_count" && $"r_mean_word_len" && $"r_alpha_words" &&
          $"r_stopwords" && $"r_symbol_ratio" && $"r_top_word_mass")
      .withColumn("clf_keep", $"clf_score" > 0L)
  }

  /** t18's keep bit as a composable per-row Column — e9's signal frame
    * rides it on its base scan instead of joining the t18 relation. */
  private[graft] def clfKeepCol(s: SparkSession, dir: String,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    clfScoreExpr(text, clfWeightVector(s, dir)) > 0L

  private[operators] val t18Sql =
    s"""WITH tb AS (
       |  SELECT doc_id,
       |    ${graft.sources.Hash60.sql60("tok")} % $ClfBuckets AS b
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)),
       |cnt AS (
       |  SELECT b,
       |    SUM(CASE WHEN doc_id % $DecontMod = 0 THEN 1 ELSE 0 END) AS cp,
       |    SUM(CASE WHEN doc_id % $DecontMod = $ClfNegRem THEN 1 ELSE 0 END) AS cn
       |  FROM tb
       |  WHERE doc_id % $DecontMod IN (0, $ClfNegRem)
       |  GROUP BY 1),
       |tot AS (SELECT SUM(cp) AS tp, SUM(cn) AS tn FROM cnt),
       |wts AS (
       |  SELECT b, ((cp * $ClfMicro) // tp) - ((cn * $ClfMicro) // tn) AS w
       |  FROM cnt, tot),
       |sc AS (
       |  SELECT tb.doc_id, CAST(SUM(COALESCE(wts.w, 0)) AS BIGINT) AS clf_score
       |  FROM tb LEFT JOIN wts USING (b)
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(len(string_split(d.text, ' ')) AS INT) AS n_toks,
       |  sc.clf_score,
       |  sc.clf_score > 0 AS clf_keep
       |FROM documents d JOIN sc ON d.doc_id = sc.doc_id""".stripMargin

  // ------------------------------------------- t24 per-language stopwords

  /** Per-language stopword lists — ONE Seq drives both engines (the
    * BlockedDomains device). These are per-deployment CONFIG: a real
    * deployment ships the published per-language function-word lists
    * (NLTK, ISO 639 stopword collections); on this corpus, whose
    * synthetic vocabulary is shared across its labeled languages, the
    * stand-ins are each language's own highest-document-frequency words
    * — exactly the distributional role function words play in natural
    * text, and the reason a stopword gate is a language-shape test at
    * all. The RULE — a document must contain at least
    * [[LangStopsMinHits]] distinct stopwords OF ITS OWN (predicted)
    * language — is what's under test. */
  private[graft] val LangStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("group", "table", "small", "value"),
    "de" -> Seq("customer", "column", "stream", "order"),
    "es" -> Seq("batch", "key", "slow", "fast"),
    "fr" -> Seq("the", "filter", "scan", "fast"),
    "zh" -> Seq("scan", "merge", "slow", "filter"))

  private[graft] val LangStopsMinHits = 2

  /** Distinct own-language stopword hits as a Column over (pred_lang,
    * word array) — a literal CASE fold over [[LangStops]], so the gate
    * is one narrow expression wherever it rides (t24, the e5 sheet, and
    * through it e7's ablation and e9's funnel stage). Languages outside
    * the config score 0 (they cannot pass — config must cover the
    * corpus, and the spec asserts it covers the profile's languages). */
  private[graft] def stopHitsExpr(predLang: Column, text: Column): Column = {
    val w = words(text)
    LangStops.foldLeft(lit(0)) { case (e, (l, stops)) =>
      when(predLang === l,
        size(filter(array(stops.map(lit): _*), x => array_contains(w, x))))
        .otherwise(e)
    }
  }

  /** t24: the PER-LANGUAGE stopword gate — the deployment-correct form
    * of Gopher's stopword rule (Rae et al. 2021 run it on English
    * only; CCNet/mC4-class multilingual stacks key the list by the
    * document's detected language). t16's `r_stopwords` is an
    * English-prior rule that e7's ablation measures at a 100% solo
    * kill on this corpus — the reason e9 excluded it from the funnel;
    * t24 replaces the prior with t2b's PREDICTED language selecting
    * which list applies, so the gate tests "does this doc carry its
    * own language's function words", not "is this doc English".
    *
    * Output: (doc_id, pred_lang, stop_hits, stop_keep) with stop_keep
    * = hits ≥ [[LangStopsMinHits]] — measured on the fixture at a
    * 2.4% fail rate spread across all five predicted languages (the
    * e7 row shows the same, closing VERDICT r16's solo-kill ask).
    *
    * Scale shape: [[langScored]]'s — one documents scan and one narrow
    * projection (t2b's per-row kernel, then the literal folds); the stop
    * lists ride the plan as literals, never a join, and nothing
    * shuffles. */
  def t24LangStopwords(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    langScored(s, dir)
      .select($"doc_id", $"pred_lang", $"stop_hits", $"stop_keep")
  }

  /** The language-signal relation behind t24, t26, the e5 sheet and
    * e9's funnel frame: (doc_id, pred_lang, conf_micro, stop_hits,
    * stop_keep, block_hits, block_keep), one row per document.
    *
    * Scale shape: ONE documents scan and one narrow projection. The
    * [[graft.functions.langProfileScores]] kernel scores each row
    * against the trained profile; pred_lang is [[bestLangStruct]]'s
    * argmax over its fields, conf_micro = best score div
    * greatest(n_tri, 1) (the average profile weight per trigram
    * occurrence that e9's lang_gate and st13 threshold), and the
    * stop/block hit folds read pred_lang and the text in the same row.
    * Nothing shuffles and nothing joins back to the corpus; a consumer
    * that reads only some columns gets the rest pruned by Catalyst.
    * Every document is present, a zero-hit one scoring 0 in every
    * language (so it predicts the first code, as every oracle does). */
  private[graft] def langScored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val profile = langProfileRows(s, dir)
    val best = bestLangStruct(profileLangs(profile), $"sc")
    Tables.documents(s, dir)
      .select($"doc_id", $"text",
        graft.functions.langProfileScores($"text", profile).as("sc"))
      .select($"doc_id", $"text", best.getField("c").as("pred_lang"),
        best.getField("s").as("score_micro"), $"sc.n_tri".as("n_tri"))
      .select($"doc_id", $"pred_lang",
        expr("score_micro div greatest(n_tri, 1)").as("conf_micro"),
        stopHitsExpr($"pred_lang", $"text").as("stop_hits"),
        blockHitsExpr($"pred_lang", $"text").as("block_hits"))
      .withColumn("stop_keep", $"stop_hits" >= LangStopsMinHits)
      .withColumn("block_keep", $"block_hits" === 0)
  }

  /** The oracle's stop-hits CASE over (pred_lang, text) — generated
    * from the SAME [[LangStops]] Seq (list_filter/list_contains
    * spelling). */
  private[graft] def stopHitsSqlOf(pred: String, text: String): String = {
    val arms = LangStops.map { case (l, stops) =>
      val lst = stops.map(w => s"'$w'").mkString("[", ", ", "]")
      s"WHEN '$l' THEN len(list_filter($lst, " +
        s"sw -> list_contains(string_split($text, ' '), sw)))"
    }.mkString(" ")
    s"CAST(CASE $pred $arms ELSE 0 END AS INT)"
  }

  /** The t24 oracle CTE chain (opens with the shared profile CTEs,
    * ends in `t24o` = (doc_id, pred_lang, stop_hits, stop_keep)) —
    * factored so e5's sheet oracle splices the identical spelling. */
  private[graft] lazy val t24CtesSql =
    s"$profileCtesSql,\n" +
    s"""sc24 AS (
       |  SELECT gr.doc_id, p.p_lang, CAST(SUM(p.w) AS BIGINT) AS s
       |  FROM gr JOIN prof p ON gr.g = p.g GROUP BY 1, 2),
       |pred24 AS (
       |  SELECT d.doc_id, d.text, r.p_lang AS pred_lang
       |  FROM documents d
       |  JOIN (
       |    SELECT doc_id, p_lang,
       |      row_number() OVER (PARTITION BY doc_id
       |        ORDER BY s DESC, p_lang) AS rk
       |    FROM (
       |      SELECT d2.doc_id, l.p_lang, COALESCE(sc24.s, 0) AS s
       |      FROM documents d2
       |      CROSS JOIN (SELECT DISTINCT p_lang FROM prof) l
       |      LEFT JOIN sc24 ON sc24.doc_id = d2.doc_id
       |        AND sc24.p_lang = l.p_lang) t
       |  ) r ON r.doc_id = d.doc_id AND r.rk = 1),
       |t24o AS (
       |  SELECT doc_id, pred_lang, stop_hits,
       |    stop_hits >= $LangStopsMinHits AS stop_keep
       |  FROM (
       |    SELECT doc_id, pred_lang,
       |      ${stopHitsSqlOf("pred_lang", "text")} AS stop_hits
       |    FROM pred24))""".stripMargin

  // private[operators]: e5's sheet oracle splices the identical chain
  private[operators] lazy val t24Sql =
    s"WITH $t24CtesSql\n" +
      "SELECT doc_id, pred_lang, stop_hits, stop_keep FROM t24o"

  // ------------------------------------------- t26 per-language blockwords

  /** Per-language banned word/phrase lists — the C4 stage (Raffel et
    * al. 2020 drop any page containing a word from the "List of Dirty,
    * Naughty, Obscene..." list; multilingual deployments key the list
    * by detected language). Like [[LangStops]] this is per-deployment
    * CONFIG under the BlockedDomains device (ONE Seq drives both
    * engines); the published lists contain single words AND multi-word
    * phrases, so entries here are token SEQUENCES (space-separated,
    * matched on token adjacency) and the stand-ins mix both lengths.
    * On this corpus — whose tiny shared vocabulary gives every single
    * word a ~70%+ document frequency — the phrase entries are chosen
    * from each language's ~10%-df bigrams so the gate's any-hit-kills
    * polarity removes a measurable slice instead of the corpus
    * (kill-rate math in the scaladoc of [[t26LangBlockwords]]). */
  private[graft] val LangBlockWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("window table", "dup"),
    "de" -> Seq("batch scan"),
    "es" -> Seq("sort merge"),
    "fr" -> Seq("line data"),
    "zh" -> Seq("fast merge"))

  /** Banned-entry hits as a Column over (pred_lang, text) — a literal
    * CASE fold over [[LangBlockWords]] (t24's device, opposite
    * polarity downstream). A phrase matches on token ADJACENCY: the
    * space-padded text contains the space-padded phrase — exact word
    * boundaries, no substring false positives ("dup" never matches
    * "dupe"), and multi-token entries only fire on consecutive tokens.
    * Languages outside the config score 0: no list means nothing is
    * banned (the C4 semantics — the opposite default from [[t24]]'s
    * must-prove-its-language gate, and the reason the two polarities
    * are separate stages). */
  private[graft] def blockHitsExpr(predLang: Column, text: Column): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    LangBlockWords.foldLeft(lit(0)) { case (e, (l, banned)) =>
      when(predLang === l,
        size(filter(array(banned.map(lit): _*),
          p => contains(padded, concat(lit(" "), p, lit(" "))))))
        .otherwise(e)
    }
  }

  /** t26: the PER-LANGUAGE banned-words gate — C4's blocklist-word
    * filter, the last widely-published text gate the tier lacked
    * (VERDICT r17 #4), as t24's device with the OPPOSITE polarity:
    * t24 demands evidence OF the document's language (≥ 2 own-list
    * stopword hits keep), t26 kills on ANY hit from the predicted
    * language's banned list. Measured on the fixture: ~12% of docs
    * carry a banned entry of their own predicted language, spread
    * across all five lists — the modest, tunable kill a deployed
    * blocklist shows (vs ~70%+ if any single vocab word were banned —
    * the scaladoc of [[LangBlockWords]] explains the phrase choice).
    *
    * Output: (doc_id, pred_lang, block_hits, block_keep) with
    * block_keep = (hits == 0). Rides the e5 sheet (through the shared
    * [[langScored]] relation — one scoring pass serves t24 AND t26),
    * e7's ablation, and e9's funnel as the stage after lang_stopwords;
    * its addition bumps [[PipelineOps.FunnelVersion]] to 3, giving
    * e11's registered changelog its first naturally NON-empty diff.
    *
    * Scale shape: identical to t24 — one scan, t2b's per-row kernel and
    * a narrow literal-fold projection; the banned lists ride the plan as
    * literals, never a join. */
  def t26LangBlockwords(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    langScored(s, dir)
      .select($"doc_id", $"pred_lang", $"block_hits", $"block_keep")
  }

  /** The oracle's banned-hits CASE over (pred_lang, text) — generated
    * from the SAME [[LangBlockWords]] Seq, spelled INDEPENDENTLY of
    * the Spark padded-contains fold: each entry becomes an anchored
    * regex `(^| )entry( |$)` counted via regexp_matches (word-boundary
    * semantics restated, not shared). Entries are [a-z ]-only by
    * construction (asserted), so no regex escaping is needed. */
  private[graft] def blockHitsSqlOf(pred: String, text: String): String = {
    require(LangBlockWords.forall(_._2.forall(_.matches("[a-z ]+"))),
      "banned entries must be regex-meta-free")
    val arms = LangBlockWords.map { case (l, banned) =>
      val sum = banned.map(p =>
        s"CAST(regexp_matches($text, '(^| )$p( |$$)') AS INT)")
        .mkString(" + ")
      s"WHEN '$l' THEN $sum"
    }.mkString(" ")
    s"CAST(CASE $pred $arms ELSE 0 END AS INT)"
  }

  /** The t26 oracle chain rides [[t24CtesSql]]'s shared pred24 CTE
    * (profile + argmax — identical prediction, one spelling) and adds
    * the banned fold; `t26o` = (doc_id, pred_lang, block_hits,
    * block_keep). */
  private[graft] lazy val t26CtesSql =
    s"$t24CtesSql,\n" +
    s"""t26o AS (
       |  SELECT doc_id, pred_lang, block_hits,
       |    block_hits = 0 AS block_keep
       |  FROM (
       |    SELECT doc_id, pred_lang,
       |      ${blockHitsSqlOf("pred_lang", "text")} AS block_hits
       |    FROM pred24))""".stripMargin

  // private[operators]: e5's sheet oracle splices the identical chain
  private[operators] lazy val t26Sql =
    s"WITH $t26CtesSql\n" +
      "SELECT doc_id, pred_lang, block_hits, block_keep FROM t26o"

  /** BOTH gates off one spelling of the shared chain — what the e5
    * sheet oracle splices (mirroring the Spark side's single
    * [[langScored]] relation: one profile chain, both folds). */
  private[operators] lazy val langGatesSql =
    s"WITH $t26CtesSql\n" +
      """SELECT o.doc_id, o.pred_lang, o.stop_hits, o.stop_keep,
        |  b.block_hits, b.block_keep
        |FROM t24o o JOIN t26o b USING (doc_id)""".stripMargin

  // ------------------------------------------- t25 unicode normalization

  /** The Unicode messy-twin derivation over (doc_id, text) — d16's
    * ONE-SPELLING device (`urlExprSql`'s discipline) applied to the
    * normalization problem: the fixture corpus is pure ASCII, so the
    * cases normalization exists for are DERIVED deterministically by one
    * portable SQL expression both engines splice (CASE/replace/||/% all
    * parse identically in Spark SQL and DuckDB; the non-ASCII
    * replacement strings ride as literal UTF-8 in the one string).
    * Coprime moduli cross the messiness axes:
    *
    *   - doc_id%3=0: `a` → `a` + U+0301 (NFD-style combining acute —
    *     NFC must COMPOSE it to á);
    *   - doc_id%3=1: `a` → U+00E1 (precomposed á — the NFC twin: after
    *     normalization classes 0 and 1 must agree exactly, the
    *     café/cafe´ case);
    *   - doc_id%11=0: `w` → `w` + U+0303 (no precomposed form exists —
    *     NFC keeps the sequence, the mark STRIP must remove it);
    *   - doc_id%7=0: `s` → U+FF53 (fullwidth ｓ — canonical-only
    *     normalization must LEAVE it; pins that neither engine
    *     accidentally applies NFKC);
    *   - doc_id%5=0: every space doubled; doc_id%2=0: leading space +
    *     trailing tab (the whitespace collapse/trim cases).
    *
    * Flattened to one line — this string is spliced into stripMargin
    * oracle templates (the r16 `||`-eats-a-pipe trap). */
  /** t25: Unicode text normalization — the CCNet pre-dedup
    * canonicalization pass (Wenzek et al. 2020 §3.1: normalize, THEN
    * hash) this engine lacked: every dedup tier hashed raw text, so the
    * NFC and NFD spellings of one document — byte-different, canonically
    * equivalent — could never dedup together ([[graft.operators.DedupOps.d1nNormalizedDedup]]
    * closes that gap over this column). Pure narrow map riding the scan
    * (derivation + one codegen'd kernel): zero exchanges at any corpus
    * size; the output ships the digest, not the normalized text (the
    * t4d/m4 contract — the sig pins every code point and its order). */
  def t25NormalizeText(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", expr(TextNorm.messyTextExprSql).as("messy"))
      .select($"doc_id", $"messy",
        graft.functions.normalizeText($"messy").as("norm"))
      .select($"doc_id",
        ($"norm" =!= $"messy").as("changed"),
        length($"messy").cast("long").as("n_chars_messy"),
        length($"norm").cast("long").as("n_chars_norm"),
        md5($"norm").as("norm_sig"))
  }

  private val t25Sql =
    s"""WITH m25 AS (
       |  SELECT doc_id, ${TextNorm.messyTextExprSql} AS messy FROM documents),
       |n25 AS (
       |  SELECT doc_id, messy, ${TextNorm.normSqlOf("messy")} AS norm FROM m25)
       |SELECT doc_id, norm <> messy AS changed,
       |  CAST(length(messy) AS BIGINT) AS n_chars_messy,
       |  CAST(length(norm) AS BIGINT) AS n_chars_norm,
       |  md5(norm) AS norm_sig
       |FROM n25""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t24_lang_stopwords" -> t24LangStopwords _,
    "t26_lang_blockwords" -> t26LangBlockwords _,
    "t25_normalize_text" -> t25NormalizeText _,
    "t13_bm25_topk" -> t13Bm25Topk _,
    "t14_tfidf_terms" -> t14TfidfTerms _,
    "t15_ref_lm_score" -> t15RefLmScore _,
    "t16_gopher_rules" -> t16GopherRules _,
    "t17_ppl_buckets" -> t17PplBuckets _,
    "t1_text_stats" -> t1TextStats _,
    "t2_lang_id" -> t2LangId _,
    "t3_quality_score" -> t3QualityScore _,
    "t4_token_count" -> t4TokenCount _,
    "t4b_bpe_token_count" -> t4bBpeTokenCount _,
    "t5_fingerprint" -> t5Fingerprint _,
    "t6_hash_split" -> t6HashSplit _,
    "t7_repetition" -> t7Repetition _,
    "t8_bigram_lm" -> t8BigramLm _,
    "t9_pii_redact" -> t9PiiRedact _,
    "t9b_pii_validated" -> t9bPiiValidated _,
    "t10_decontaminate" -> t10Decontaminate _,
    "t19_span_decontaminate" -> t19SpanDecontaminate _,
    "t20_ingest_novelty" -> t20IngestNovelty _,
    "t11_perplexity_filter" -> t11PerplexityFilter _,
    "t12_boilerplate" -> t12Boilerplate _,
    "t18_quality_classifier" -> t18QualityClassifier _,
    "t2b_lang_id_trained" -> t2bLangIdTrained _,
    "t22_segment_langmix" -> t22SegmentLangmix _,
    "t4c_bpe_vocab_train" -> t4cBpeVocabTrain _,
    "t4d_token_ids" -> t4dTokenIds _)

  // def, not val: t4c's entry reads the TrainedOracle registry, populated
  // when the t4c query resolves its learned vocabulary (Verify's order).
  def oracleSql: Map[String, String] = Map(
    "t4c_bpe_vocab_train" ->
      graft.sources.TrainedOracle.sqlFor("t4c_bpe_vocab_train", t4cFallback),
    "t22_segment_langmix" -> t22Sql,
    "t13_bm25_topk" -> t13Sql,
    "t14_tfidf_terms" -> t14Sql,
    "t15_ref_lm_score" -> t15Sql,
    "t16_gopher_rules" -> t16Sql,
    "t17_ppl_buckets" -> t17Sql,
    "t1_text_stats" -> t1Sql,
    "t2_lang_id" -> t2Sql,
    "t3_quality_score" -> t3Sql,
    "t4_token_count" -> t4Sql,
    "t4b_bpe_token_count" -> t4bSql,
    "t5_fingerprint" -> t5Sql,
    "t6_hash_split" -> t6Sql,
    "t7_repetition" -> t7Sql,
    "t8_bigram_lm" -> t8Sql,
    "t9_pii_redact" -> t9Sql,
    "t9b_pii_validated" -> t9bSql,
    "t10_decontaminate" -> t10Sql,
    "t19_span_decontaminate" -> t19Sql,
    "t20_ingest_novelty" -> t20Sql,
    "t11_perplexity_filter" -> t11Sql,
    "t12_boilerplate" -> t12Sql,
    "t18_quality_classifier" -> t18Sql,
    "t2b_lang_id_trained" -> t2bSql,
    "t4d_token_ids" -> t4dSql,
    "t24_lang_stopwords" -> t24Sql,
    "t26_lang_blockwords" -> t26Sql,
    "t25_normalize_text" -> t25Sql)
}

/** t25's shared Unicode-derivation and oracle-normalization spellings —
  * a STANDALONE object (no reference to TextOps or DedupOps) so the
  * cross-object oracle splices (TextOps.t25Sql, DedupOps.d1nSql) can
  * never observe a mid-initialization null: an eager val inside TextOps
  * would read as null from DedupOps's init if the two objects'
  * initializers ever chain (the profileCtesSql lazy-val trap, hit live
  * in round 17 — DuckDB received `null AS messy`). */
private[graft] object TextNorm {
  private[graft] val messyTextExprSql: String =
    ("(CASE WHEN doc_id % 2 = 0 THEN ' ' ELSE '' END) || " +
      "replace(replace(replace(replace(text, " +
      "'a', CASE WHEN doc_id % 3 = 0 THEN 'a\u0301' " +
      "WHEN doc_id % 3 = 1 THEN '\u00e1' ELSE 'a' END), " +
      "'w', CASE WHEN doc_id % 11 = 0 THEN 'w\u0303' ELSE 'w' END), " +
      "'s', CASE WHEN doc_id % 7 = 0 THEN '\uff53' ELSE 's' END), " +
      "' ', CASE WHEN doc_id % 5 = 0 THEN '  ' ELSE ' ' END) " +
      "|| (CASE WHEN doc_id % 2 = 0 THEN '\t' ELSE '' END)")

  /** The oracle's INDEPENDENT normalization spelling over any expression
    * string — DuckDB's `nfc_normalize` then an RE2 `\p{M}` mark strip
    * then `\s`-class collapse/trim, stated against the JDK chain of
    * [[graft.functions.normalizeText]] (java.text.Normalizer NFC +
    * Character.getType Mn/Mc/Me strip + the same `[\t\n\f\r ]` class).
    * Two independent Unicode stacks (ICU-lineage JDK vs utf8proc) —
    * the hash compare proves they agree on every derived case. */
  private[graft] def normSqlOf(e: String): String =
    s"trim(regexp_replace(regexp_replace(nfc_normalize($e), " +
      "'\\p{M}', '', 'g'), '[\\t\\n\\f\\r ]+', ' ', 'g'))"

}
