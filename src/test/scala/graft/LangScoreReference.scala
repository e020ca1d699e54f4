package graft

import graft.operators.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The compositional language-profile scorer: the reference the specs
  * compare [[graft.functions.langProfileScores]] against. Each row's
  * padded character trigrams ([[TextOps.charTrigrams]], the trainer's own
  * feature spelling) are exploded with their positions, left-joined to
  * the broadcast (lang, gram, weight) profile rows and folded back in one
  * pivot aggregate keyed on `keys`. Returns `keys` plus `sc` =
  * struct<s_<lang>…, n_hits, n_tri>, the kernel's shape: per-language
  * summed weights, trigram occurrences matching any profile gram, and
  * all trigram occurrences. Every input row is present (the outer
  * explode keeps empty and null texts as one null gram); a null text
  * scores 0 with 0 hits. One row per distinct key. */
object LangScoreReference {
  def scores(rel: DataFrame, text: Column, keys: Seq[Column],
      profile: Seq[(String, String, Long)]): DataFrame = {
    val s = rel.sparkSession
    import s.implicits._
    val prof = profile.toDF("p_lang", "g", "w")
    val langs = TextOps.profileLangs(profile)
    val pivots = langs.map(l =>
      sum(when($"p_lang" === l, $"w").otherwise(0L)).as(s"s_$l"))
    val keyNames = rel.select(keys: _*).columns.toSeq
    rel.select(keys :+ TextOps.charTrigrams(text).as("__tri"): _*)
      .select(keyNames.map(col) ++ Seq(
        coalesce(size($"__tri").cast("long"), lit(0L)).as("n_tri"),
        posexplode_outer($"__tri").as(Seq("pos", "g"))): _*)
      .join(broadcast(prof), Seq("g"), "left")
      .groupBy(keyNames.map(col): _*)
      .agg(first($"n_tri").as("n_tri"),
        pivots :+ count_distinct(when($"p_lang".isNotNull, $"pos")).as("n_hits"): _*)
      .select(keyNames.map(col) :+ struct(
        langs.map(l => col(s"s_$l")) ++ Seq($"n_hits", $"n_tri"): _*).as("sc"): _*)
  }
}
