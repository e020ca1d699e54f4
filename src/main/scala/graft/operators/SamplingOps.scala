package graft.operators

import graft.sources.{Layouts, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sampling tier — the draw-a-subset operators every training-data
  * pipeline runs before anything expensive (labeling, human eval, ablation
  * corpora). The reference has no sampling (its users would `rand()` inside
  * mapper closures — nondeterministic and irreproducible); here every
  * sample is a pure function of document identity:
  *
  *  - keyed on a salted md5 of doc_id, never on `rand()`: the same doc is
  *    in the same sample on every run, every engine, every cluster size,
  *    and adding documents never reshuffles existing members (the same
  *    growth-stability argument as [[TextOps.t6HashSplit]]);
  *  - each sampling channel gets its OWN salt so e.g. the eval sample is
  *    statistically independent of the train/val/test split — reusing one
  *    hash for both would correlate them (the classic leakage bug);
  *  - everything is DuckDB-expressible, so both operators carry exact
  *    oracles.
  */
object SamplingOps {

  /** Deterministic uniform rank in [0, 2^60) from a salted doc id — the
    * shared [[graft.sources.Hash60]] device, with a salt prefix so
    * distinct sampling channels draw independent hashes. */
  private def hashRank(docId: Column, salt: String): Column =
    graft.sources.Hash60.col60(concat(lit(salt), docId.cast("string")))

  private def hashRankSql(salt: String): String =
    graft.sources.Hash60.sql60(s"'$salt' || CAST(doc_id AS VARCHAR)")

  private[graft] val TopK = 20

  /** p1: exact deterministic top-k-per-key sample — the k docs with the
    * smallest salted hash per source (a reproducible "random" k-per-source
    * draw; rank = hash order, ties by doc_id).
    *
    * Scale shape: the scan reads ONLY (doc_id, source) — text is pruned
    * away, so at 100 TB this touches a few GB of columns, not the corpus.
    * A single `row_number` over `partitionBy(source)` would sort one
    * reducer per source — a billion-row sort on a skewed source. Instead
    * the classic two-stage exact top-k: stage 1 ranks within
    * (source, physical-partition) — group size is bounded by the scan
    * partition size whatever the key skew — and keeps k; stage 2 ranks the
    * ≤ k×partitions survivors per source. Any row in the global top-k is
    * in its partition's local top-k, so the result is exact and
    * independent of the physical partitioning (SamplingOpsSpec asserts
    * both). */
  def p1SampleTopk(s: SparkSession, dir: String): DataFrame =
    topkPerKey(Tables.documents(s, dir), TopK)

  /** The reusable two-stage kernel over any (doc_id, source) relation —
    * [[p1SampleTopk]] binds it to the corpus; SamplingOpsSpec feeds it
    * adversarial partitionings and checks it against the one-window
    * formulation. */
  private[graft] def topkPerKey(documents: DataFrame, k: Int): DataFrame = {
    val docs = documents
      .select(col("doc_id"), col("source"), hashRank(col("doc_id"), "p1:").as("rk"))
    val local = docs
      .withColumn("pid", spark_partition_id())
      .withColumn("lrnk", row_number().over(
        Window.partitionBy(col("source"), col("pid")).orderBy(col("rk"), col("doc_id"))))
      .where(col("lrnk") <= k)
    local
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("rk"), col("doc_id"))).cast("int"))
      .where(col("rnk") <= k)
      .select(col("source"), col("doc_id"), col("rnk"))
  }

  private val p1Sql =
    s"""SELECT source, doc_id, rnk FROM (
       |  SELECT source, doc_id,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY ${hashRankSql("p1:")}, doc_id) AS INT) AS rnk
       |  FROM documents)
       |WHERE rnk <= $TopK""".stripMargin

  /** Per-language sampling rates in permille — the mixture-shaping story:
    * downsample the dominant language, keep more of the rare ones. */
  private[graft] val RatePermille: Seq[(String, Int)] =
    Seq("en" -> 100, "zh" -> 500)
  private[graft] val DefaultPermille = 300

  /** p2: stratified hash sampling — per-language keep rates applied as a
    * deterministic hash-bucket threshold (bucket = salted md5 % 1000 <
    * rate‰). A pure narrow map + filter: no shuffle at any scale, and the
    * scan reads only the three id/routing columns. Emits the sampled rows
    * with their bucket so the draw is auditable; different salt than p1 —
    * the two samples are independent draws. */
  def p2StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bucket = pmod(hashRank($"doc_id", "p2:"), lit(1000))
    val rate = RatePermille.foldRight(lit(DefaultPermille): Column) {
      case ((l, r), e) => when($"lang" === l, r).otherwise(e)
    }
    Tables.documents(s, dir)
      .select($"doc_id", $"source", $"lang", bucket.as("bucket"))
      .where($"bucket" < rate)
  }

  private val p2Sql = {
    val rate = RatePermille.foldRight(DefaultPermille.toString) {
      case ((l, r), e) => s"CASE WHEN lang = '$l' THEN $r ELSE $e END"
    }
    s"""SELECT doc_id, source, lang, bucket FROM (
       |  SELECT doc_id, source, lang,
       |    ${hashRankSql("p2:")} % 1000 AS bucket
       |  FROM documents)
       |WHERE bucket < $rate""".stripMargin
  }

  /** Target mixture weights by language (sum to 1) and the repeat budget —
    * a language may be seen at most [[MaxEpochs]] times before the mix is
    * infeasible at that size. */
  private[graft] val MixWeights: Seq[(String, Double)] =
    Seq("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)
  private[graft] val MaxEpochs = 4.0

  /** p3: training-mix planning — given per-language target weights and a
    * max-repeat budget, size the largest feasible training corpus and the
    * per-language sampling/repeat factor that realizes it. The standard
    * data-mixture arithmetic:
    *
    *   T_l    = available whitespace tokens per language,
    *   S      = min_l (T_l × MaxEpochs / w_l) — the binding language caps
    *            the total (its full supply, repeated MaxEpochs times,
    *            must cover its share),
    *   need_l = w_l × S,  factor_l = need_l / T_l
    *            (> 1 ⇒ upsample by repeats, < 1 ⇒ downsample).
    *
    * One tiny aggregate (per-language token counts, map-side combined) +
    * one all-rows window min over 5 rows — the scan is the only thing
    * that scales. Every output is derived from exact BIGINT token counts
    * and literal weights via single IEEE ops — bit-identical in both
    * engines with no rounding.
    *
    * Languages outside [[MixWeights]] are EXPLICITLY excluded by the
    * filter (they have no target share, so they contribute neither
    * supply nor demand to the plan) — without the filter they would get
    * a NULL weight and vanish from the binding-min silently, which both
    * engines would agree on and the oracle could never catch.
    * SamplingOpsSpec asserts the fixture's languages are all weighted,
    * so on the test corpus the filter drops nothing.
    *
    * The registered query counts whitespace tokens (t4's cheap proxy —
    * fine for relative mix shares when the subword expansion factor is
    * similar across languages). A pipeline whose budget is REAL
    * tokenizer tokens passes its own counter to [[p3MixPlan]] — e.g.
    * t4b's greedy-BPE kernel — and gets the identical plan arithmetic
    * over tokenizer-accurate supplies (the expansion factor then rebinds
    * which language caps the mix; SamplingOpsSpec exercises both). */
  def p3DatasetMix(s: SparkSession, dir: String): DataFrame =
    p3MixPlan(s, dir, size(split(col("text"), " ")))

  /** The mix-plan arithmetic with the per-document token counter as a
    * parameter — `tokenCounter` is any integer-valued column expression
    * over `text` (whitespace proxy, t4's regex, t4b's BPE kernel). Same
    * plan shape regardless of counter: narrow per-row map, O(languages)
    * aggregate, broadcast scalar min. */
  private[graft] def p3MixPlan(s: SparkSession, dir: String,
      tokenCounter: Column): DataFrame = {
    import s.implicits._
    val wExpr = MixWeights.tail.foldLeft(
      when($"lang" === MixWeights.head._1, MixWeights.head._2)) {
      case (e, (l, v)) => e.when($"lang" === l, v)
    }
    val perLang = Tables.documents(s, dir)
      .where($"lang".isInCollection(MixWeights.map(_._1)))
      .select($"lang", tokenCounter.as("t"))
      .groupBy($"lang").agg(sum($"t").as("tokens"))
      .withColumn("weight", wExpr)
      .withColumn("feasible", $"tokens".cast("double") * MaxEpochs / $"weight")
    // The binding constraint is a SCALAR (min over one row per weighted
    // language): attach it as a broadcast cross join of a 1-row aggregate
    // rather than an empty-frame window — a global window forces every
    // row through ONE partition, a shape that silently serializes if this
    // plan is ever reused over per-document rows.
    perLang
      .crossJoin(broadcast(perLang.agg(min($"feasible").as("mix_total"))))
      .select($"lang", $"tokens", $"weight",
        ($"weight" * $"mix_total").as("need_tokens"),
        ($"weight" * $"mix_total" / $"tokens").as("repeat_factor"))
  }

  private val p3Sql = {
    val w = MixWeights.map { case (l, v) => s"WHEN lang = '$l' THEN $v" }
      .mkString("CASE ", " ", " END")
    val langs = MixWeights.map { case (l, _) => s"'$l'" }.mkString(", ")
    s"""WITH t AS (
       |  SELECT lang,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
       |  FROM documents WHERE lang IN ($langs) GROUP BY 1),
       |f AS (
       |  SELECT lang, tokens, $w AS weight,
       |    CAST(tokens AS DOUBLE) * $MaxEpochs / ($w) AS feasible
       |  FROM t),
       |m AS (SELECT lang, tokens, weight,
       |        MIN(feasible) OVER () AS mix_total FROM f)
       |SELECT lang, tokens, weight,
       |  weight * mix_total AS need_tokens,
       |  weight * mix_total / tokens AS repeat_factor
       |FROM m""".stripMargin
  }

  /** p5: mix MATERIALIZATION — p3 plans the mixture (per-language repeat
    * factors); p5 turns the plan into the per-document sample that
    * actually feeds training: every doc in a weighted language gets
    * `n_copies` = ⌊rf⌋ whole epochs plus one more iff its salted hash
    * fraction falls under rf's fractional part — a deterministic
    * Bernoulli draw whose expected token total per language equals the
    * plan's `need_tokens`. Same hash-threshold device as p2 (integer
    * micro-unit threshold so both engines compare exact integers), its
    * own salt channel.
    *
    * Scale shape: the plan is a ≤|languages|-row relation — broadcast —
    * so materialization is a narrow map over a (doc_id, lang) scan: no
    * shuffle at any corpus size. Docs drawn 0 times stay in the output
    * with n_copies = 0 so the draw is auditable (and the p2 pattern of
    * emitting the evidence holds). */
  def p5MixMaterialize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val plan = p3DatasetMix(s, dir).select($"lang", $"repeat_factor")
    Tables.documents(s, dir)
      .where($"lang".isInCollection(MixWeights.map(_._1)))
      .select($"doc_id", $"lang")
      .join(broadcast(plan), Seq("lang"))
      .select($"doc_id", $"lang",
        (floor($"repeat_factor").cast("long") +
          when(pmod(hashRank($"doc_id", "p5:"), lit(1000000L)) <
            floor(($"repeat_factor" - floor($"repeat_factor")) * 1000000)
              .cast("long"), 1L)
          .otherwise(0L)).as("n_copies"))
  }

  private val p5Sql = {
    val langs = MixWeights.map { case (l, _) => s"'$l'" }.mkString(", ")
    s"""WITH plan AS (SELECT lang, repeat_factor FROM ($p3Sql))
       |SELECT d.doc_id, d.lang,
       |  CAST(floor(p.repeat_factor) AS BIGINT) +
       |  CASE WHEN ${hashRankSql("p5:")} % 1000000 <
       |       CAST(floor((p.repeat_factor - floor(p.repeat_factor))
       |            * 1000000) AS BIGINT)
       |       THEN 1 ELSE 0 END AS n_copies
       |FROM documents d JOIN plan p ON d.lang = p.lang
       |WHERE d.lang IN ($langs)""".stripMargin
  }

  /** Token budget per packed training sequence. */
  private[graft] val PackBudget = 512
  /** Independent packing shards — the parallelism unit. */
  private[graft] val PackShards = 32

  /** p4: sequence packing — assign every document to the fixed-budget
    * training sequence (pack) in which it STARTS, the
    * concatenate-then-chunk packing of LLM pretraining: within a shard,
    * documents are concatenated in deterministic order and cut into
    * [[PackBudget]]-token sequences; pack_id = the chunk holding the
    * document's first token (floor of the exclusive running token count /
    * budget).
    *
    * Scale shape: packing is inherently sequential, so the corpus is
    * first split into [[PackShards]] INDEPENDENT shards by salted hash
    * (a narrow map — shards ≈ training-data shards/files, each packed
    * alone); the only exchange is the per-shard window, whose shuffled
    * row is (doc_id, n_tokens, shard) — a few bytes, text pruned at the
    * scan. At 100 TB you'd raise PackShards to the file count; within-
    * shard order stays deterministic (doc_id) so the packing is
    * reproducible run to run, which checkpoint-resume of a training job
    * depends on. No global sort, no driver state. */
  def p4PackSequences(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    packSequences(Tables.documents(s, dir)
      .select($"doc_id", size(split($"text", " ")).as("n_tokens")), "p4:")
  }

  /** The packing kernel over any (doc_id, n_tokens, extras*) relation —
    * p4 binds it to the whole corpus; [[PipelineOps.e2TrainingShards]] /
    * e4 to their survivor sets with the token-id signature riding along.
    * Extra input columns pass through the packing window untouched
    * (they ride the per-shard exchange, so keep them narrow — e2/e4
    * ship a 32-char digest, never the id array itself). A distinct salt
    * per caller keeps the shard draws independent channels, same rule
    * as p1/p2/t6. */
  private[operators] def packSequences(docs: DataFrame, salt: String): DataFrame = {
    val extras = docs.columns.filterNot(Set("doc_id", "n_tokens")).toSeq
    val sharded = docs.withColumn("shard",
      pmod(hashRank(col("doc_id"), salt), lit(PackShards)).cast("int"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    sharded.withColumn("cum", sum(col("n_tokens")).over(w))
      .select((Seq(col("doc_id"), col("shard"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / lit(PackBudget)).cast("int")
          .as("pack_id")) ++ extras.map(col)): _*)
  }

  /** SQL half of [[packSequences]]: pack `fromRelation` (any relation with
    * doc_id + n_tokens + `extraCols` columns) under the same salt. */
  private[operators] def packSequencesSql(fromRelation: String, salt: String,
      extraCols: Seq[String] = Nil): String = {
    val ex = extraCols.map(c => s", $c").mkString
    s"""SELECT doc_id, shard, n_tokens,
       |  CAST(floor((cum - n_tokens) / $PackBudget.0) AS INT) AS pack_id$ex
       |FROM (
       |  SELECT doc_id, shard, n_tokens,
       |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS cum$ex
       |  FROM (
       |    SELECT doc_id, n_tokens,
       |      CAST(${hashRankSql(salt)} % $PackShards AS INT) AS shard$ex
       |    FROM $fromRelation))""".stripMargin
  }

  private val p4Sql = packSequencesSql(
    s"""(SELECT doc_id,
       |      CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
       |    FROM documents)""".stripMargin, "p4:")

  // ------------------------------------------- p10 best-fit packing (BFD)

  /** The per-shard best-fit-decreasing fold behind [[p10BestFitPack]]
    * (true BFD since round 18 — the r17 kernel was first-fit under a
    * best-fit name; Ding et al. 2024 prescribe the TIGHTEST bin): docs
    * arrive sorted (n_tokens DESC, doc_id ASC); each goes to the open
    * bin with the SMALLEST remainder that still fits (ties to the
    * lowest bin index — the first-opened bin — so the fold stays a
    * deterministic pure function of the sorted sequence; the oracle
    * replays it as a recursive CTE with a list_min argmin). A doc
    * larger than [[PackBudget]] opens its own bin with negative
    * remainder, which can never accept another doc (the only p10 docs
    * that still truncate). Best-fit's bin scan is O(bins) per doc —
    * fine at the training-shard-file sizes shards are meant to be (the
    * production upgrade for huge shards is a balanced BST / segment
    * tree over bin remainders, O(log bins) successor queries; the
    * ASSIGNMENT those structures produce is identical, so the contract
    * here wouldn't change). */
  private[graft] def bfdAssign(docs: Iterator[(Long, Int)]): Iterator[(Long, Int, Int)] = {
    val rem = scala.collection.mutable.ArrayBuffer.empty[Int]
    docs.map { case (id, n) =>
      var best = -1
      var j = 0
      while (j < rem.length) {
        // strict < keeps the FIRST bin among equal minimal remainders
        if (rem(j) >= n && (best < 0 || rem(j) < rem(best))) best = j
        j += 1
      }
      if (best < 0) { rem += (PackBudget - n); (id, n, rem.length - 1) }
      else { rem(best) -= n; (id, n, best) }
    }
  }

  /** p10: BEST-FIT sequence packing — the Ding et al. 2024 ("Fewer
    * Truncations Improve Language Modeling") upgrade over p4's
    * concatenate-then-chunk: p4 cuts every [[PackBudget]] tokens
    * regardless of document boundaries, so any doc straddling a cut is
    * truncated (and its training signal corrupted — the paper measures
    * the downstream cost); p10 BIN-PACKS whole documents into
    * fixed-budget sequences with best-fit-decreasing, so a document is
    * only ever truncated when it alone exceeds the budget.
    * SamplingOpsSpec counts truncations under both geometries on the
    * same sharding and pins p10 < p4.
    *
    * Determinism: BFD's assignment is a pure function of the sorted
    * (n_tokens DESC, doc_id) sequence per shard — the tightest-fitting
    * bin with ties to the lowest index leaves no placement freedom,
    * reproducible run to run (the checkpoint-resume property p4
    * established).
    *
    * Scale shape: p4's exact budget — the corpus splits into
    * [[PackShards]] independent shards by salted hash (own "p10:"
    * channel), the ONLY exchange is the per-shard groupBy, and the rows
    * it moves are (doc_id, n_tokens) — text pruned at the scan. Within
    * a shard the fold is inherently sequential (bin state), so it runs
    * as ONE sorted-group pass (`flatMapSortedGroups` — Spark sorts the
    * group on the shuffled key, no driver state, spill-safe); memory is
    * O(bins per shard), which is why shards ≈ training shard FILES is
    * the contract (at 100 TB raise PackShards to the file count, same
    * as p4). This is the documented per-partition-imperative rung of
    * the extension ladder: the fold's sequential state has no
    * declarative spelling, and the typed path is confined to the
    * already-shuffled id-width relation. */
  def p10BestFitPack(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        size(split($"text", " ")).as("n_tokens"),
        pmod(hashRank($"doc_id", "p10:"), lit(PackShards)).cast("int").as("shard"))
      .as[(Long, Int, Int)]
      .groupByKey(_._3)
      .flatMapSortedGroups(desc("n_tokens"), asc("doc_id")) { (shard, it) =>
        bfdAssign(it.map(r => (r._1, r._2))).map { case (id, n, bin) =>
          (id, shard, n, bin)
        }
      }
      .toDF("doc_id", "shard", "n_tokens", "pack_id")
  }

  /** The oracle replays the BFD fold per shard as a recursive CTE
    * (t4d's recursive-segmentation device): state = the list of bin
    * remainders, one doc consumed per iteration per shard, best fit =
    * the ARGMIN over fitting remainders — list_min over the fitting
    * sublist, located back in the full list with list_position (first
    * occurrence = the kernel's lowest-index tie rule; the located value
    * is by construction present, so the 0-on-no-match hazard NULLIF
    * guarded in the r17 first-fit arm cannot arise — the no-fit case is
    * decided by the len() guard before any positioning). */
  private val p10Sql = {
    val fits = "list_filter(f.rem, r -> r >= b.n_tokens)"
    val lp = s"CASE WHEN len($fits) = 0 THEN NULL " +
      s"ELSE list_position(f.rem, list_min($fits)) END"
    s"""WITH RECURSIVE basep10 AS (
       |  SELECT doc_id, n_tokens, shard,
       |    CAST(row_number() OVER (PARTITION BY shard
       |      ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS rn
       |  FROM (SELECT doc_id,
       |          CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       |          CAST(${hashRankSql("p10:")} % $PackShards AS INT) AS shard
       |        FROM documents)),
       |bfd(shard, i, rem, doc_id, n_tokens, pack_id) AS (
       |  SELECT shard, CAST(0 AS BIGINT), CAST([] AS INTEGER[]),
       |    CAST(NULL AS BIGINT), CAST(NULL AS INT), CAST(NULL AS INT)
       |  FROM (SELECT DISTINCT shard FROM basep10)
       |  UNION ALL
       |  SELECT b.shard, f.i + 1,
       |    CASE WHEN $lp IS NULL
       |         THEN list_append(f.rem, $PackBudget - b.n_tokens)
       |         ELSE f.rem[1:$lp-1] || [f.rem[$lp] - b.n_tokens]
       |           || f.rem[$lp+1:] END,
       |    b.doc_id, b.n_tokens,
       |    CAST(COALESCE($lp, len(f.rem) + 1) - 1 AS INT)
       |  FROM bfd f JOIN basep10 b ON b.shard = f.shard AND b.rn = f.i + 1)
       |SELECT doc_id, shard, n_tokens, pack_id
       |FROM bfd WHERE doc_id IS NOT NULL""".stripMargin
  }

  // -------------------------------------------------- p8 curriculum order

  /** p8: quality-CURRICULUM ordering — the deterministic training-order
    * relation behind the "anneal on the best data last" practice
    * (OLMo-2's mid-training stage, MiniCPM's decay-phase mix, LLaMA-3's
    * annealing runs): every document gets a (stage, shard, seq) training
    * coordinate where `stage` is its t17 reference-LM quality tier
    * (tail = 0 trains first, middle = 1, head = 2 anneals last) and the
    * order WITHIN a stage is a deterministic salted-hash shuffle (a raw
    * doc_id order would replay ingest/source clustering into training
    * time — the hash breaks it, reproducibly). A trainer consumes stages
    * ascending, reading shards in parallel by `seq`; the whole epoch
    * order is the lexicographic (stage, seq, shard) walk.
    *
    * Scale shape: t17's scoring budget plus one narrow projection and
    * ONE window partitioned by (stage, [[PackShards]] salted shards) —
    * p4's packing-window budget exactly: 3 × PackShards balanced
    * partitions, each sorting its 1/PackShards slice of 20-byte rows; at
    * 100 TB raise PackShards to the shard-file count, same as p4. The
    * text column never reaches the window (id + tier only). */
  def p8CurriculumOrder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val staged = graft.operators.TextOps.t17PplBuckets(s, dir)
      .select($"doc_id",
        when($"ppl_bucket" === "tail", 0)
          .when($"ppl_bucket" === "middle", 1)
          .otherwise(2).cast("int").as("stage"),
        pmod(hashRank($"doc_id", "p8:"), lit(PackShards)).cast("int").as("shard"),
        hashRank($"doc_id", "p8:").as("hkey"))
    val w = Window.partitionBy($"stage", $"shard").orderBy($"hkey", $"doc_id")
    staged
      .withColumn("seq", row_number().over(w).cast("long"))
      .select($"doc_id", $"stage", $"shard", $"seq")
  }

  // private[operators]: e10's cut oracle joins the coordinate replay
  private[operators] val p8Sql =
    s"""WITH tier AS (
       |  SELECT doc_id, ppl_bucket FROM (${graft.operators.TextOps.t17Sql})),
       |st AS (
       |  SELECT doc_id,
       |    CAST(CASE ppl_bucket WHEN 'tail' THEN 0 WHEN 'middle' THEN 1
       |         ELSE 2 END AS INT) AS stage,
       |    CAST(${hashRankSql("p8:")} % $PackShards AS INT) AS shard,
       |    ${hashRankSql("p8:")} AS hkey
       |  FROM tier)
       |SELECT doc_id, stage, shard,
       |  CAST(row_number() OVER (PARTITION BY stage, shard
       |       ORDER BY hkey, doc_id) AS BIGINT) AS seq
       |FROM st""".stripMargin

  // --------------------------------------------------------------- p6 DSIR

  /** The neutral micro-unit importance ratio (equal smoothed reference
    * and pool frequencies) — unseen feature buckets default to it. */
  private[graft] val DsirMicro = 1000000L
  /** Trainer version — bump on any change to hashing, smoothing, or the
    * ratio formula (the t18 staleness discipline). */
  private[graft] val DsirVersion = 1

  /** p6: DSIR — Data Selection via Importance Resampling (Xie et al.
    * 2023, the GPT-3/PaLM-era domain-matching pass): re-weight the raw
    * pool toward a REFERENCE distribution by per-document importance
    * (how much more likely the doc's features are under the reference
    * than under the pool) and sample with probability proportional to
    * it. t18 FILTERS on a discriminative verdict; p6 RESAMPLES to match
    * a target distribution — the standard pairing in published stacks
    * (quality screen + domain match).
    *
    * Model: hashed unigram buckets — t18's h60 mod
    * [[TextOps.ClfBuckets]] features over the same reference/pool
    * slices via the shared [[TextOps.clfBucketCounts]] relation (the
    * two trained samplers cannot drift on slice or hashing
    * conventions). Smoothed micro frequencies f⁺ = (c⁺·10⁶ div T⁺)+1
    * and f⁻ = (c⁻·10⁶ div T⁻)+1 (add-one in micro space keeps the
    * ratio defined and integer); per-bucket importance r = (f⁺·10⁶)
    * div f⁻, neutral at [[DsirMicro]]. The published estimator
    * multiplies per-feature likelihood ratios (sums log-ratios); log
    * is banned from hashed outputs by the determinism discipline, so
    * the per-doc weight is the integer MEAN of per-occurrence ratios —
    * same ranking direction, bit-exact in both engines (t18's log-odds
    * stand-in device).
    *
    * `dsir_weight_micro` = (Σ over token occurrences of r[b]) div
    * n_toks; `accept` = salted hash % 10⁶ < min(weight, 10⁶) —
    * sampling proportional to importance with density capped at 1,
    * deterministic per document (p2's independent-channel salt).
    *
    * Scale shape (t18's exactly): training is ONE vocab-bounded
    * map-side-combined aggregate over the two slices, published
    * atomically under a fingerprint-named path — warm processes train
    * nothing; scoring is a PURE narrow map (the D-bounded ratio table
    * rides the plan as one array literal — zero exchanges, no state at
    * any corpus size, plan-audit-pinned). */
  def p6DsirResample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val r = dsirRatioVector(s, dir)
    Tables.documents(s, dir)
      .select($"doc_id",
        size(split($"text", " ")).cast("int").as("n_toks"),
        dsirSumExpr($"text", r).as("rs"))
      .select($"doc_id", $"n_toks",
        expr("rs div n_toks").as("dsir_weight_micro"))
      .withColumn("accept",
        pmod(hashRank($"doc_id", "p6:"), lit(DsirMicro)) <
          least($"dsir_weight_micro", lit(DsirMicro)))
  }

  /** Per-occurrence importance fold over a text column given the dense
    * ratio vector — one array literal + a per-row fold (t18's
    * clfScoreExpr shape); factored so the spec's independent replay
    * applies the IDENTICAL expression. */
  private[graft] def dsirSumExpr(text: Column, r: Array[Long]): Column =
    aggregate(
      transform(split(text, " "), t =>
        element_at(typedLit(r.toSeq),
          (graft.sources.Hash60.col60(t) % TextOps.ClfBuckets).cast("int") + 1)),
      lit(0L), (acc, x) => acc + x)

  /** The trained (bucket, ratio) relation over any documents frame —
    * the spec drives planted corpora through this kernel. */
  private[graft] def dsirRatiosOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val counts = TextOps.clfBucketCounts(docs)
    val totals = counts.agg(sum($"cp").as("tp"), sum($"cn").as("tn"))
    counts.crossJoin(broadcast(totals))
      .select($"b", expr(
        s"((((cp * $DsirMicro) div tp) + 1) * $DsirMicro)" +
          s" div (((cn * $DsirMicro) div tn) + 1)").as("r"))
  }

  private[graft] def dsirModelPath(s: SparkSession, dir: String): String =
    Layouts.artifactPath(s,
      s"graft_dsir_v${DsirVersion}_d${TextOps.ClfBuckets}", dir, "documents")

  private val dsirMemo = new graft.sources.FingerprintMemo[Array[Long]]

  /** Dense ratio vector (length [[TextOps.ClfBuckets]], neutral-filled)
    * for `dir`'s corpus — trained once per corpus fingerprint,
    * persisted, memoized per session (t18's clfWeightVector discipline; the
    * collect is D-bounded — the model IS the collected artifact). Fails
    * loudly on an empty training relation. */
  private def dsirRatioVector(s: SparkSession, dir: String): Array[Long] = {
    val path = dsirModelPath(s, dir)
    dsirMemo.getOrBuild(s, dir, "", path) {
        import s.implicits._
        Layouts.publish(path)(
          dsirRatiosOf(Tables.documents(s, dir)).repartition(1).write)
        val rows = s.read.schema("b LONG, r LONG").parquet(path)
          .as[(Long, Long)].collect()
        require(rows.nonEmpty,
          s"p6: no training tokens in either slice at $dir — importance undefined")
        val r = Array.fill[Long](TextOps.ClfBuckets)(DsirMicro)
        rows.foreach { case (b, v) => r(b.toInt) = v }
        r
      }
  }

  private val p6Sql = {
    import graft.sources.Hash60
    s"""WITH tb AS (
       |  SELECT doc_id, ${Hash60.sql60("tok")} % ${TextOps.ClfBuckets} AS b
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)),
       |cnt AS (
       |  SELECT b,
       |    SUM(CASE WHEN doc_id % ${TextOps.DecontMod} = 0
       |        THEN 1 ELSE 0 END) AS cp,
       |    SUM(CASE WHEN doc_id % ${TextOps.DecontMod} = ${TextOps.ClfNegRem}
       |        THEN 1 ELSE 0 END) AS cn
       |  FROM tb
       |  WHERE doc_id % ${TextOps.DecontMod} IN (0, ${TextOps.ClfNegRem})
       |  GROUP BY 1),
       |tot AS (SELECT SUM(cp) AS tp, SUM(cn) AS tn FROM cnt),
       |rat AS (
       |  SELECT b, ((((cp * $DsirMicro) // tp) + 1) * $DsirMicro)
       |    // (((cn * $DsirMicro) // tn) + 1) AS r
       |  FROM cnt, tot),
       |sc AS (
       |  SELECT tb.doc_id,
       |    CAST(SUM(COALESCE(rat.r, $DsirMicro)) AS BIGINT) AS rs,
       |    CAST(COUNT(*) AS BIGINT) AS nt
       |  FROM tb LEFT JOIN rat USING (b)
       |  GROUP BY 1)
       |SELECT doc_id,
       |  CAST(len(string_split(d.text, ' ')) AS INT) AS n_toks,
       |  CAST(sc.rs // sc.nt AS BIGINT) AS dsir_weight_micro,
       |  (${hashRankSql("p6:")} % $DsirMicro)
       |    < LEAST(sc.rs // sc.nt, $DsirMicro) AS accept
       |FROM documents d JOIN sc USING (doc_id)""".stripMargin
  }

  // --------------------------------------------------- p7 epoch planner

  /** Per-source repeat cap — a source may be epoched at most this many
    * times (Muennighoff et al. 2023: past ~4 epochs repeated data stops
    * buying loss). Integer so every derived quantity stays exact. */
  private[graft] val EpochCap = 4L
  /** The planned run consumes this many × the corpus's total tokens —
    * with the 4× per-source cap, over-demanded sources saturate. */
  private[graft] val BudgetFactor = 2L

  /** p7: the fixed-budget EPOCH PLAN — the allocation table (LLaMA's
    * sampling-proportion/epochs table, under the data-constrained
    * repeat cap of Muennighoff et al. 2023) a training run is actually
    * configured from. p3 answers "how big can the corpus get under the
    * weights?" (max-feasible); p7 answers the converse production
    * question: the token budget B is FIXED (here [[BudgetFactor]] × the
    * corpus's total supply — scale-covariant and data-derived, standing
    * in for the run's config) and each source demands its weighted
    * share, saturating at [[EpochCap]] epochs of its own supply. A
    * saturated source reports its unmet `deficit_tokens` EXPLICITLY
    * (the no-silent-caps discipline: a planner that quietly re-spreads
    * the deficit hides that the mix is infeasible; re-spreading is a
    * policy decision the deficit column lets the caller make).
    *
    * Source weights stand in for run config as a deterministic literal
    * rule on the source id (raw = 1 + suffix % 4, mirrored into the
    * oracle); every output is exact BIGINT arithmetic — shares and
    * epochs in micro-units via integer div (want = B·raw div ΣW, so
    * rounding happens ONCE, never through a pre-rounded weight).
    *
    * Scale shape: one corpus scan collapsing map-side to S = |sources|
    * rows (text pruned to its token count at the scan), the two scalar
    * totals attached as a broadcast 1-row cross join (p3's device — a
    * global window would serialize), then narrow arithmetic. Nothing
    * downstream of the aggregate scales with data. */
  def p7EpochPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // both the totals and the plan read the S-row supply relation:
    // materialize it so the corpus-touching aggregate runs ONCE, not
    // once per consumer
    val perSrc = graft.sources.Materialize(Tables.documents(s, dir)
      .select($"source", size(split($"text", " ")).cast("long").as("t"))
      .groupBy($"source").agg(sum($"t").as("tokens"))
      // digit-free source names carry an explicit default suffix of 0
      // (raw weight 1) in BOTH spellings — without the coalesce Spark
      // would silently plan NULL weights while the DuckDB oracle's CAST
      // throws (ADVICE r13); TRY_CAST below mirrors the non-ANSI CAST
      .withColumn("raw",
        lit(1L) + pmod(coalesce(regexp_extract($"source", "(\\d+)", 1)
          .cast("long"), lit(0L)), lit(4L))))
    val tot = perSrc.agg(sum($"tokens").as("tt"), sum($"raw").as("ww"))
    perSrc.crossJoin(broadcast(tot))
      .select($"source", $"tokens",
        expr("raw * 1000000 div ww").as("weight_micro"),
        expr(s"($BudgetFactor * tt * raw) div ww").as("want_tokens"),
        $"raw", $"tt", $"ww")
      .select($"source", $"tokens", $"weight_micro", $"want_tokens",
        least($"want_tokens", lit(EpochCap) * $"tokens")
          .as("grant_tokens"),
        ($"want_tokens" > lit(EpochCap) * $"tokens").as("capped"),
        ($"want_tokens" -
          least($"want_tokens", lit(EpochCap) * $"tokens"))
          .as("deficit_tokens"))
      .withColumn("epochs_micro", expr("grant_tokens * 1000000 div tokens"))
  }

  private val p7Sql =
    s"""WITH t AS (
       |  SELECT source,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens,
       |    CAST(1 + COALESCE(TRY_CAST(regexp_extract(source, '([0-9]+)', 1)
       |      AS BIGINT), 0) % 4 AS BIGINT) AS raw
       |  FROM documents GROUP BY source),
       |tot AS (SELECT SUM(tokens) AS tt, SUM(raw) AS ww FROM t),
       |w AS (
       |  SELECT source, tokens,
       |    CAST(raw * 1000000 // ww AS BIGINT) AS weight_micro,
       |    CAST(($BudgetFactor * tt * raw) // ww AS BIGINT) AS want_tokens
       |  FROM t, tot)
       |SELECT source, tokens, weight_micro, want_tokens,
       |  CAST(LEAST(want_tokens, $EpochCap * tokens) AS BIGINT)
       |    AS grant_tokens,
       |  want_tokens > $EpochCap * tokens AS capped,
       |  CAST(want_tokens - LEAST(want_tokens, $EpochCap * tokens) AS BIGINT)
       |    AS deficit_tokens,
       |  CAST(LEAST(want_tokens, $EpochCap * tokens) * 1000000 // tokens
       |    AS BIGINT) AS epochs_micro
       |FROM w""".stripMargin

  // ------------------------------------------- p9 temperature (α) mix

  /** Temperature exponent for the α-sampling weights — the published
    * multilingual constant (XLM-R uses α = 0.3; mC4/mT5 report the same
    * family of exponents). α = 1 reproduces the corpus as-is; α → 0
    * approaches uniform; 0.3 is the published compromise that lifts
    * low-resource languages without drowning the high-resource ones. */
  private[graft] val MixAlpha = 0.3

  /** p9: TEMPERATURE-scaled language mix — the one famous mix policy p3
    * does not cover. p3 takes target weights as GIVEN config; the
    * multilingual-pretraining standard (Conneau et al. 2020's XLM-R
    * α-sampling; mC4/mT5) DERIVES them from the observed distribution:
    * q_l ∝ p_l^α where p_l is the language's observed token share —
    * then the plan arithmetic is exactly p3's (feasible totals under
    * [[MaxEpochs]], binding language, per-language need/repeat).
    *
    * Determinism: p_l^α is the one non-rational step, so it runs ONCE,
    * driver-side, over the collected per-language totals (a ≤|languages|-
    * row relation — bounded by language cardinality, never by data) with
    * `StrictMath.pow` (bit-deterministic across JVMs, unlike
    * `Math.pow`), languages folded in sorted order, and the normalized
    * weights rounded to integer MICRO-UNITS. The micro weights are then
    * driver-known constants — the [[graft.sources.TrainedOracle]] splice
    * (s9/t4c's device) feeds the identical literals to the oracle, and
    * everything downstream (shares, feasible, binding min, need/repeat)
    * is recomputed independently by BOTH engines from the corpus.
    *
    * Scale shape: one corpus scan collapsing map-side to |languages|
    * rows (materialized, so the trainer's collect and the registered
    * output consume ONE aggregate), the two scalars attached as
    * broadcast 1-row cross joins (p3's device), then narrow arithmetic. The micro-unit product `tokens * 10⁶` bounds the
    * per-language supply at ~9.2×10¹² tokens before BIGINT overflow; a
    * 100 TB deployment respells that one product over DECIMAL(38,0)
    * (Spark decimal ≡ DuckDB HUGEINT, both exact). */
  def p9TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perLang = graft.sources.Materialize(Tables.documents(s, dir)
      .select($"lang", size(split($"text", " ")).cast("long").as("t"))
      .groupBy($"lang").agg(sum($"t").as("tokens"))
      .where($"tokens" > 0L))
    val weights = alphaWeightsMicro(
      perLang.collect().map(r => r.getString(0) -> r.getLong(1)))
    graft.sources.TrainedOracle.publish("p9_temperature_mix", p9SqlFor(weights))
    val wExpr = weights.foldLeft(lit(1L)) {
      case (e, (l, m)) => when($"lang" === l, lit(m)).otherwise(e)
    }
    val tot = perLang.agg(sum($"tokens").as("total"))
    perLang.crossJoin(broadcast(tot))
      .select($"lang", $"tokens",
        expr("tokens * 1000000 div total").as("share_micro"),
        wExpr.as("weight_micro"))
      .withColumn("feasible",
        $"tokens".cast("double") * lit(MaxEpochs) * lit(1000000) / $"weight_micro")
      .transform { f =>
        f.crossJoin(broadcast(f.agg(min($"feasible").as("mix_total"))))
      }
      .select($"lang", $"tokens", $"share_micro", $"weight_micro",
        ($"weight_micro".cast("double") * $"mix_total" / lit(1000000.0))
          .as("need_tokens"),
        ($"weight_micro".cast("double") * $"mix_total" / lit(1000000.0) /
          $"tokens").as("repeat_factor"))
  }

  /** The α-weight trainer: observed shares → p^α → normalized integer
    * micro-units, in sorted-language order so the fold is one fixed IEEE
    * evaluation order. `max(1)` keeps a vanishingly-rare language's
    * weight a valid divisor (a 0-micro weight would divide by zero in
    * the feasible column — and a language so rare it rounds to 0 of 10⁶
    * still deserves its floor under the α → 0 philosophy). */
  private[graft] def alphaWeightsMicro(counts: Seq[(String, Long)]): Seq[(String, Long)] = {
    // loud, not NaN: an empty supply would propagate total=0 → NaN pow
    // here and a parse-invalid 'CASE ELSE 1 END' into the spliced oracle
    // (t2b's require-nonEmpty precedent)
    require(counts.nonEmpty, "p9: empty language supply — no corpus to mix")
    val sorted = counts.sortBy(_._1)
    val total = sorted.map(_._2).sum.toDouble
    val pow = sorted.map { case (l, t) => l -> StrictMath.pow(t / total, MixAlpha) }
    val z = pow.map(_._2).sum
    pow.map { case (l, w) => l -> math.max(1L, math.round(w / z * 1000000.0)) }
  }

  private def p9SqlFor(weights: Seq[(String, Long)]): String = {
    // lang values are corpus-derived, not config constants: escape the
    // single quote so a hostile/odd code can't break (or inject into)
    // the spliced oracle SQL (ADVICE r14)
    val w = weights.map { case (l, m) =>
      s"WHEN lang = '${l.replace("'", "''")}' THEN $m"
    }.mkString("CASE ", " ", " ELSE 1 END")
    s"""WITH t AS (
       |  SELECT lang,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
       |  FROM documents GROUP BY 1 HAVING SUM(len(string_split(text, ' '))) > 0),
       |tot AS (SELECT SUM(tokens) AS total FROM t),
       |w AS (
       |  SELECT lang, tokens,
       |    CAST(tokens * 1000000 // total AS BIGINT) AS share_micro,
       |    CAST($w AS BIGINT) AS weight_micro
       |  FROM t, tot),
       |f AS (
       |  SELECT *, CAST(tokens AS DOUBLE) * $MaxEpochs * 1000000 / weight_micro
       |    AS feasible FROM w),
       |m AS (SELECT *, MIN(feasible) OVER () AS mix_total FROM f)
       |SELECT lang, tokens, share_micro, weight_micro,
       |  CAST(weight_micro AS DOUBLE) * mix_total / 1000000.0 AS need_tokens,
       |  CAST(weight_micro AS DOUBLE) * mix_total / 1000000.0 / tokens
       |    AS repeat_factor
       |FROM m""".stripMargin
  }

  /** Loud out-of-order sentinel (the s9 device). */
  private val p9Fallback =
    """SELECT CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS BIGINT) AS tokens,
      |  CAST(NULL AS BIGINT) AS share_micro, CAST(NULL AS BIGINT) AS weight_micro,
      |  CAST(NULL AS DOUBLE) AS need_tokens, CAST(NULL AS DOUBLE) AS repeat_factor
      |WHERE FALSE""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p1_sample_topk" -> p1SampleTopk _,
    "p2_stratified_sample" -> p2StratifiedSample _,
    "p3_dataset_mix" -> p3DatasetMix _,
    "p4_pack_sequences" -> p4PackSequences _,
    "p10_bestfit_pack" -> p10BestFitPack _,
    "p5_mix_materialize" -> p5MixMaterialize _,
    "p6_dsir_resample" -> p6DsirResample _,
    "p7_epoch_plan" -> p7EpochPlan _,
    "p8_curriculum_order" -> p8CurriculumOrder _,
    "p9_temperature_mix" -> p9TemperatureMix _)

  // def, not val: p9's entry reads the TrainedOracle registry, populated
  // when the p9 query resolves its α-weights (Verify's order).
  def oracleSql: Map[String, String] = Map(
    "p1_sample_topk" -> p1Sql,
    "p2_stratified_sample" -> p2Sql,
    "p3_dataset_mix" -> p3Sql,
    "p4_pack_sequences" -> p4Sql,
    "p10_bestfit_pack" -> p10Sql,
    "p5_mix_materialize" -> p5Sql,
    "p6_dsir_resample" -> p6Sql,
    "p7_epoch_plan" -> p7Sql,
    "p8_curriculum_order" -> p8Sql,
    "p9_temperature_mix" ->
      graft.sources.TrainedOracle.sqlFor("p9_temperature_mix", p9Fallback))
}
